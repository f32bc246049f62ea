"""Driver contract for the spark-graft builder (PySpark target).

Maps the engine's operator surface (SURVEY.md §2) onto the driver's
TPC-H-ish tables: time operators run against ``events`` (timestamps) and
``orders`` (dates); text/dedup ops against ``documents``; similarity against
``embeddings``. Every query aliases its computed columns identically to the
DuckDB oracle SQL so the driver's order-insensitive value-hash matches.

Float policy: aggregate floats are rounded identically on both sides
(ROUND(x, n)) because double reduction order differs between engines;
integer aggregates are exact.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tablecloth_time_spark.functions import timeops as T
from tablecloth_time_spark.operators.rollup import rollup
from tablecloth_time_spark.operators.rolling import rolling, rolling_rows
from tablecloth_time_spark.operators.slice import slice_time

SF_SMALL = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: slice -> hourly rollup per user (the README resample recipe,
# distributed: filter pushdown + partial/final hash agg)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    events = _t(spark, SF_SMALL, "events")
    sliced = slice_time(events, "ts", "2024-01-01", "2024-03-01")
    return rollup(
        sliced,
        keys=["user_id"],
        ts_col="ts",
        interval=1,
        unit="hour",
        aggs={
            "n_events": ("count", "event_id"),
            "sum_value": ("sum", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
            "first_type": ("first", "event_type"),
            "last_type": ("last", "event_type"),
        },
        order_cols=["ts", "event_id"],
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def q_slice_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return slice_time(ev, "ts", "2024-01-03", "2024-01-05 12:00:00").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


SQL_SLICE_EVENTS = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
  AND ts <= TIMESTAMP '2024-01-05 12:00:00'
"""


def q_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = rollup(
        ev, ["user_id"], "ts", 1, "hour",
        {
            "n_events": ("count", "event_id"),
            "sum_value": ("sum", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
            "avg_value": ("avg", "value"),
            "first_type": ("first", "event_type"),
            "last_type": ("last", "event_type"),
        },
        order_cols=["ts", "event_id"],
    )
    return out.select(
        "user_id",
        F.col("bucket"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        "min_value",
        "max_value",
        F.round("avg_value", 6).alias("avg_value"),
        "first_type",
        "last_type",
    )


SQL_ROLLUP_HOURLY = """
SELECT user_id,
       date_trunc('hour', ts) AS bucket,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       ROUND(AVG(value), 6) AS avg_value,
       FIRST(event_type ORDER BY ts, event_id) AS first_type,
       LAST(event_type ORDER BY ts, event_id) AS last_type
FROM events
GROUP BY user_id, date_trunc('hour', ts)
"""


def q_rollup_15min_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute buckets through the explicit two-phase salted path, union'd
    (grain-tagged, calendar_floors precedent) with the Monday-aligned weekly
    rollup via origin-anchored bucketing (down_to_nearest(origin=...) —
    TimescaleDB time_bucket parity; the epoch-anchored default starts weeks
    on Thursday). The former standalone weekly_origin_rollup query, folded
    here to stay inside the driver's 50-query correctness budget."""
    ev = _t(spark, sf_dir, "events")
    m15 = rollup(
        ev, ["event_type"], "ts", 15, "minute",
        {"n_events": ("count", "event_id"), "sum_value": ("sum", "value")},
        order_cols=["ts", "event_id"],
        salt=8,
    ).select(
        F.lit("15min_salted").alias("grain"), "event_type", "bucket",
        "n_events", F.round("sum_value", 4).alias("sum_value"),
    )
    weekly = ev.groupBy(
        T.down_to_nearest("ts", 1, "week", origin="2024-01-01").alias("bucket"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).select(
        F.lit("weekly_origin").alias("grain"), "event_type", "bucket",
        "n_events", "sum_value",
    )
    return m15.unionByName(weekly)


SQL_ROLLUP_15MIN = """
SELECT '15min_salted' AS grain, event_type,
       make_timestamp((epoch_ms(ts) - epoch_ms(ts) % 900000) * 1000) AS bucket,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 2, 3
UNION ALL
SELECT 'weekly_origin' AS grain, event_type,
       time_bucket(INTERVAL '7 days', CAST(ts AS TIMESTAMP),
                   TIMESTAMP '2024-01-01') AS bucket,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 2, 3
"""


def q_calendar_floors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-interval calendar floors (r2's floor_month_k3 + floor_year_k5,
    folded into one scored query to free a slot in the driver's 50-query
    budget — the union'd `grain` tag keeps both grains fully hashed)."""
    orders = _t(spark, sf_dir, "orders")
    months = orders.groupBy(
        T.floor_to_month("o_orderdate", 3).cast("timestamp").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    ).select(F.lit("month_k3").alias("grain"), "bucket", "n_orders", "sum_price")
    years = orders.groupBy(
        T.floor_to_year("o_orderdate", 5).cast("timestamp").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    ).select(F.lit("year_k5").alias("grain"), "bucket", "n_orders", "sum_price")
    return months.unionByName(years)


SQL_CALENDAR_FLOORS = """
WITH m AS (
  SELECT (year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS em,
         o_totalprice
  FROM orders
)
SELECT 'month_k3' AS grain,
       CAST(DATE '1970-01-01' + to_months(CAST(em - em % 3 AS INT)) AS TIMESTAMP) AS bucket,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM m
GROUP BY 2
UNION ALL
SELECT 'year_k5' AS grain,
       CAST(make_date(CAST(1970 + ey - ey % 5 AS INT), 1, 1) AS TIMESTAMP) AS bucket,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price
FROM (SELECT year(o_orderdate) - 1970 AS ey, o_totalprice FROM orders)
GROUP BY 2
"""


def q_field_extractors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        T.field_expr("year", "ts").alias("y"),
        T.field_expr("month", "ts").alias("mo"),
        T.field_expr("day", "ts").alias("d"),
        T.field_expr("hour", "ts").alias("h"),
        T.field_expr("minute", "ts").alias("mi"),
        T.field_expr("second", "ts").alias("s"),
        T.field_expr("day-of-week", "ts").alias("dow_iso"),
        T.field_expr("day-of-year", "ts").alias("doy"),
        T.field_expr("week-of-year", "ts").alias("woy"),
        T.field_expr("quarter", "ts").alias("q"),
        T.field_expr("epoch-day", "ts").alias("epoch_day"),
        T.field_expr("epoch-week", "ts").alias("epoch_week"),
        T.field_expr("week-of-year-index", "ts").alias("woy_index"),
    )


SQL_FIELD_EXTRACTORS = """
SELECT event_id,
       CAST(year(ts) AS BIGINT) AS y,
       CAST(month(ts) AS BIGINT) AS mo,
       CAST(day(ts) AS BIGINT) AS d,
       CAST(hour(ts) AS BIGINT) AS h,
       CAST(minute(ts) AS BIGINT) AS mi,
       CAST(CAST(floor(second(ts)) AS INT) AS BIGINT) AS s,
       CAST(isodow(ts) AS BIGINT) AS dow_iso,
       CAST(dayofyear(ts) AS BIGINT) AS doy,
       CAST(weekofyear(ts) AS BIGINT) AS woy,
       CAST(quarter(ts) AS BIGINT) AS q,
       CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS epoch_day,
       CAST(trunc(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS epoch_week,
       CAST(trunc(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7) AS BIGINT)
         - CAST(trunc(date_diff('day', DATE '1970-01-01', make_date(year(ts), 1, 1)) / 7) AS BIGINT) AS woy_index
FROM events
"""


def q_computed_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(T.hour_fractional("ts"), 8).alias("hour_frac"),
        F.round(T.daily_phase("ts"), 8).alias("daily_phase"),
        F.round(T.weekly_phase("ts"), 8).alias("weekly_phase"),
        F.round(T.yearly_phase("ts"), 8).alias("yearly_phase"),
        T.date_string("ts").alias("date_str"),
        T.year_week_string("ts").alias("year_week"),
    )


SQL_COMPUTED_FIELDS = """
SELECT event_id,
       ROUND(hour(ts) + minute(ts) / 60.0, 8) AS hour_frac,
       ROUND((hour(ts) + minute(ts) / 60.0) / 24.0, 8) AS daily_phase,
       ROUND(((isodow(ts) - 1) * 24.0 + hour(ts) + minute(ts) / 60.0) / 168.0, 8) AS weekly_phase,
       ROUND((dayofyear(ts) - 1) / 365.0, 8) AS yearly_phase,
       strftime(ts, '%Y-%m-%d') AS date_str,
       format('{}-W{:02d}', year(ts),
              CAST(trunc(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7) AS BIGINT)
              - CAST(trunc(date_diff('day', DATE '1970-01-01', make_date(year(ts), 1, 1)) / 7) AS BIGINT)
       ) AS year_week
FROM events
"""


def q_add_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablecloth_time_spark.operators.shift import add_lags

    ev = _t(spark, sf_dir, "events")
    out = add_lags(
        ev.select("event_id", "user_id", "ts", "value"),
        "value", [1, 2],
        order_by=["ts", "event_id"], partition_by=["user_id"], drop_missing=True,
    )
    return out.select("event_id", "user_id", "value", "value_lag1", "value_lag2")


SQL_ADD_LAGS = """
SELECT event_id, user_id, value, value_lag1, value_lag2
FROM (
  SELECT event_id, user_id, value,
         lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_lag1,
         lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_lag2
  FROM events
)
WHERE value_lag1 IS NOT NULL AND value_lag2 IS NOT NULL
"""


def q_first_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First difference + cumulative sum / running peak / drawdown — four
    running-frame window exprs sharing ONE sort and ONE Exchange (the
    former standalone running_drawdown query is folded in here so the
    driver's 50-query correctness budget has room for gapfill_monthly)."""
    from tablecloth_time_spark.operators.shift import first_difference

    ev = _t(spark, sf_dir, "events")
    out = first_difference(
        ev.select("event_id", "user_id", "ts", "value"),
        "value", target="diff",
        order_by=["ts", "event_id"], partition_by=["user_id"],
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn("__rs", F.sum("value").over(w)).withColumn(
        "__rp", F.max("__rs").over(w)
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("diff", 4).alias("diff"),
        F.round("__rs", 6).alias("run_sum"),
        F.round("__rp", 6).alias("run_peak"),
        F.round(F.col("__rp") - F.col("__rs"), 6).alias("drawdown"),
    )


SQL_FIRST_DIFFERENCE = """
WITH s AS (
  SELECT event_id, user_id, ts, value,
         value - lag(value, 1) OVER w AS diff,
         SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS rs
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT *, MAX(rs) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS rp
  FROM s
)
SELECT event_id, user_id,
       ROUND(diff, 4) AS diff,
       ROUND(rs, 6) AS run_sum,
       ROUND(rp, 6) AS run_peak,
       ROUND(rp - rs, 6) AS drawdown
FROM p
"""


def q_resample_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference README's resample recipe: date-string bucket -> mean —
    plus exact distinct users per day via the skew-safe two-level
    dedup+count shape (operators/stats.py:distinct_rollup; the former
    standalone distinct_users_daily query, folded here to free a slot in
    the driver's 50-query budget — both tiny daily frames, broadcast
    join)."""
    from tablecloth_time_spark.operators.stats import distinct_rollup

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(T.date_string("ts").alias("day")).agg(
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.count(F.lit(1)).alias("n"),
    )
    uniq = distinct_rollup(ev, [], "ts", "user_id", 1, "day").select(
        T.date_string("bucket").alias("day"), F.col("n_distinct").alias("n_users")
    )
    return daily.join(F.broadcast(uniq), ["day"])


SQL_RESAMPLE_DAILY_MEAN = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       ROUND(AVG(value), 6) AS mean_value,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
"""


def q_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling (1h trailing) + the reference's ARCHIVED
    row-count rolling window (last-5-observations; dev-plan §8.1) in one
    scored query — both frame families over the same series."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling(
        ev, ["user_id"], "ts", 1, "hour",
        {"roll_sum": ("sum", "value"), "roll_n": ("count", "value")},
    )
    out = rolling_rows(
        out, ["user_id"], ["ts", "event_id"], 5,
        {"roll5_avg": ("avg", "value"), "roll5_min": ("min", "value")},
    )
    return out.select(
        "event_id", "user_id", F.round("roll_sum", 4).alias("roll_sum"), "roll_n",
        F.round("roll5_avg", 6).alias("roll5_avg"), "roll5_min",
    )


SQL_ROLLING_1H = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER w, 4) AS roll_sum,
       COUNT(value) OVER w AS roll_n,
       ROUND(AVG(value) OVER w5, 6) AS roll5_avg,
       MIN(value) OVER w5 AS roll5_min
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
       w5 AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q_temporal_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        T.plus_time("o_orderdate", 3, "month").alias("plus_3mo"),
        T.minus_time("o_orderdate", 90, "day").alias("minus_90d"),
        T.normalize_date("o_orderdate").alias("normalized"),
        T.is_month_start("o_orderdate").alias("is_ms"),
        T.is_quarter_end("o_orderdate").alias("is_qe"),
        T.day_name("o_orderdate").alias("dname"),
        T.month_name("o_orderdate").alias("mname"),
    )


SQL_TEMPORAL_ARITHMETIC = """
SELECT o_orderkey,
       o_orderdate + to_months(3) AS plus_3mo,
       o_orderdate - to_days(90) AS minus_90d,
       date_trunc('day', o_orderdate) AS normalized,
       day(o_orderdate) = 1 AS is_ms,
       (o_orderdate = CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
        AND month(o_orderdate) % 3 = 0) AS is_qe,
       dayname(o_orderdate) AS dname,
       monthname(o_orderdate) AS mname
FROM orders
"""


def q_datetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime descriptive stats computed in millis space (mean timestamp)
    PLUS the per-series OLS trend fit (operators/stats.py:trend_fit —
    slope per day / intercept / r-squared from the built-in regr_*
    aggregates; fpp3 ch. 7's TSLM trend baseline), folded onto the same
    per-event-type frame so both stay inside the driver's 50-query budget
    (tiny 5-row frames, broadcast join)."""
    from tablecloth_time_spark.operators.stats import trend_fit

    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        # exact integer mean: sum div count in int64 space (double-precision
        # avg truncates differently between engines at the millis boundary)
        F.expr(
            "timestamp_millis(sum(unix_millis(cast(ts as timestamp))) div count(1))"
        ).alias("mean_ts"),
        F.count(F.lit(1)).alias("n"),
    )
    trend = trend_fit(ev, ["event_type"], "ts", "value", per="day").select(
        "event_type",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )
    return stats.join(F.broadcast(trend), ["event_type"])


SQL_DATETIME_STATS = """
SELECT event_type,
       MIN(ts) AS min_ts,
       MAX(ts) AS max_ts,
       make_timestamp(CAST(SUM(epoch_ms(ts)) // COUNT(*) AS BIGINT) * 1000) AS mean_ts,
       COUNT(*) AS n,
       ROUND(regr_slope(value, epoch_ms(ts) / 86400000.0), 6) AS slope,
       ROUND(regr_intercept(value, epoch_ms(ts) / 86400000.0), 6) AS intercept,
       ROUND(regr_r2(value, epoch_ms(ts) / 86400000.0), 6) AS r2
FROM events
GROUP BY event_type
"""


def q_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid per user with forward-fill (the reference's planned
    resample-to-regular-grid, :method :ffill)."""
    from tablecloth_time_spark.operators.gapfill import resample_to_regular_grid

    ev = _t(spark, sf_dir, "events")
    out = resample_to_regular_grid(
        ev, ["user_id"], "ts", "value", 1, "hour", method="ffill", agg="avg"
    )
    return out.select(
        "user_id", "bucket", F.round("value", 6).alias("value")
    )


SQL_GAPFILL_FFILL = """
WITH o AS (
  SELECT user_id,
         make_timestamp((epoch_ms(ts) - epoch_ms(ts) % 3600000) * 1000) AS b,
         AVG(value) AS v
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id,
         unnest(generate_series(min(b), max(b), INTERVAL 1 HOUR)) AS bucket
  FROM o GROUP BY user_id
), j AS (
  SELECT s.user_id, s.bucket, o.v
  FROM s LEFT JOIN o ON o.user_id = s.user_id AND o.b = s.bucket
)
SELECT user_id, bucket,
       ROUND(last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value
FROM j
"""


def q_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..3 of each user's hourly mean-value series (the
    notebook's 'core function we need')."""
    from tablecloth_time_spark.operators.acf import acf

    ev = _t(spark, sf_dir, "events")
    hourly = rollup(
        ev, ["user_id"], "ts", 1, "hour", {"v": ("avg", "value")},
    )
    out = acf(hourly, ["user_id"], "bucket", "v", max_lag=3)
    return out.select(
        "user_id",
        "lag",
        F.when(F.isnan("acf"), F.lit(None)).otherwise(F.round("acf", 6)).alias("acf"),
    )


SQL_ACF_HOURLY = """
WITH s AS (
  SELECT user_id, date_trunc('hour', ts) AS b, AVG(value) AS v
  FROM events GROUP BY 1, 2
), st AS (
  SELECT user_id, AVG(v) AS mu FROM s GROUP BY 1
), c AS (
  SELECT s.user_id, s.b, s.v - st.mu AS yc
  FROM s JOIN st USING (user_id)
), l AS (
  SELECT user_id, yc,
         lag(yc, 1) OVER w AS yc1,
         lag(yc, 2) OVER w AS yc2,
         lag(yc, 3) OVER w AS yc3
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY b)
), agg AS (
  SELECT user_id,
         SUM(yc * yc) AS denom,
         SUM(yc * yc1) AS n1, SUM(yc * yc2) AS n2, SUM(yc * yc3) AS n3
  FROM l GROUP BY 1
)
SELECT CAST(user_id AS VARCHAR) AS user_id, CAST(lag AS INT) AS lag,
       ROUND(num / denom, 6) AS acf
FROM (
  SELECT user_id, 1 AS lag, n1 AS num, denom FROM agg
  UNION ALL SELECT user_id, 2, n2, denom FROM agg
  UNION ALL SELECT user_id, 3, n3, denom FROM agg
)
"""


def q_ccf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation (R's ccf; the correlogram's two-series companion
    in the reference's fpp3 notebook track) between each user's hourly
    mean value and hourly event count at lags -2..+2 — one shuffle, one
    sorted window pass, one map-side-combined aggregate
    (operators/acf.py:ccf, same plan class as acf)."""
    from tablecloth_time_spark.operators.acf import ccf

    ev = _t(spark, sf_dir, "events")
    hourly = rollup(
        ev, ["user_id"], "ts", 1, "hour",
        {"x": ("avg", "value"), "y": ("count", "event_id")},
    ).withColumn("y", F.col("y").cast("double"))
    out = ccf(hourly, ["user_id"], "bucket", "x", "y", max_lag=2)
    return out.select(
        "user_id",
        "lag",
        F.when(F.isnan("ccf"), F.lit(None))
        .otherwise(F.round("ccf", 6))
        .alias("ccf"),
    )


SQL_CCF_HOURLY = """
WITH s AS (
  SELECT user_id, date_trunc('hour', ts) AS b,
         AVG(value) AS x, CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
), st AS (
  SELECT user_id, AVG(x) AS mx, AVG(y) AS my FROM s GROUP BY 1
), c AS (
  SELECT s.user_id, s.b, s.x - st.mx AS xc, s.y - st.my AS yc
  FROM s JOIN st USING (user_id)
), l AS (
  SELECT user_id, xc, yc,
         lag(xc, 1) OVER w AS xl1, lag(xc, 2) OVER w AS xl2,
         lag(yc, 1) OVER w AS yl1, lag(yc, 2) OVER w AS yl2
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY b)
), agg AS (
  SELECT user_id,
         SUM(xc * xc) AS dx, SUM(yc * yc) AS dy,
         SUM(xl2 * yc) AS pm2, SUM(xl1 * yc) AS pm1,
         SUM(xc * yc) AS p0,
         SUM(xc * yl1) AS pp1, SUM(xc * yl2) AS pp2
  FROM l GROUP BY 1
)
SELECT CAST(user_id AS VARCHAR) AS user_id, CAST(lag AS INT) AS lag,
       CASE WHEN dx > 0 AND dy > 0
            THEN ROUND(num / sqrt(dx * dy), 6) END AS ccf
FROM (
  SELECT user_id, -2 AS lag, pm2 AS num, dx, dy FROM agg
  UNION ALL SELECT user_id, -1, pm1, dx, dy FROM agg
  UNION ALL SELECT user_id, 0, p0, dx, dy FROM agg
  UNION ALL SELECT user_id, 1, pp1, dx, dy FROM agg
  UNION ALL SELECT user_id, 2, pp2, dx, dy FROM agg
)
"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (fpp3 §3.4 — the chapter after the
    reference's notebook track) of each event type's daily count series:
    centered 7-MA trend, day-of-week seasonal indices re-centered to sum
    zero, remainder. One window pass + a tiny broadcast seasonal join."""
    from tablecloth_time_spark.operators.decompose import classical_decomposition

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = classical_decomposition(
        daily, ["event_type"], "day", "y", 7, season_col=F.dayofweek("day")
    )
    return out.select(
        "event_type",
        "day",
        F.col("y").cast("long").alias("n_events"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("remainder", 6).alias("remainder"),
    )


SQL_SEASONAL_DECOMPOSE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, day, y,
         CASE WHEN COUNT(*) OVER w = 7 THEN AVG(y) OVER w END AS trend,
         dayofweek(day) AS season
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
s AS (
  SELECT event_type, season, AVG(y - trend) AS s_raw
  FROM t GROUP BY 1, 2
),
adj AS (SELECT event_type, AVG(s_raw) AS s_adj FROM s GROUP BY 1),
si AS (
  SELECT s.event_type, s.season, s.s_raw - adj.s_adj AS seasonal
  FROM s JOIN adj USING (event_type)
)
SELECT t.event_type, t.day, CAST(t.y AS BIGINT) AS n_events,
       ROUND(t.trend, 6) AS trend,
       ROUND(si.seasonal, 6) AS seasonal,
       ROUND(t.y - t.trend - si.seasonal, 6) AS remainder
FROM t JOIN si ON t.event_type = si.event_type AND t.season = si.season
"""


def q_decomposition_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fpp3 chapter-4 trend/seasonal strength features over the classical
    decomposition of each event type's daily count series: one hash
    aggregate of three var_samp moments per key over the complete-case
    rows (edges with null trend excluded). Follows the reference's fpp3
    notebook track past chapter 3 (notebooks/chapter_02..., decompose.py
    for the components)."""
    from tablecloth_time_spark.operators.decompose import (
        classical_decomposition,
        decomposition_strength,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    dec = classical_decomposition(
        daily, ["event_type"], "day", "y", 7, season_col=F.dayofweek("day")
    )
    out = decomposition_strength(dec, ["event_type"])
    return out.select(
        "event_type",
        F.round("trend_strength", 6).alias("trend_strength"),
        F.round("seasonal_strength", 6).alias("seasonal_strength"),
        "n",
    )


SQL_DECOMPOSITION_STRENGTH = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, day, y,
         CASE WHEN COUNT(*) OVER w = 7 THEN AVG(y) OVER w END AS trend,
         dayofweek(day) AS season
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
s AS (
  SELECT event_type, season, AVG(y - trend) AS s_raw
  FROM t GROUP BY 1, 2
),
adj AS (SELECT event_type, AVG(s_raw) AS s_adj FROM s GROUP BY 1),
si AS (
  SELECT s.event_type, s.season, s.s_raw - adj.s_adj AS seasonal
  FROM s JOIN adj USING (event_type)
),
comp AS (
  SELECT t.event_type, t.trend, si.seasonal,
         t.y - t.trend - si.seasonal AS remainder
  FROM t JOIN si ON t.event_type = si.event_type AND t.season = si.season
  WHERE t.trend IS NOT NULL
),
a AS (
  SELECT event_type,
         var_samp(remainder) AS vr,
         var_samp(trend + remainder) AS vtr,
         var_samp(seasonal + remainder) AS vsr,
         COUNT(*) AS n
  FROM comp GROUP BY 1
)
SELECT event_type,
       CASE WHEN vr IS NOT NULL AND vtr IS NOT NULL AND vtr <> 0
            THEN ROUND(GREATEST(0.0, 1 - vr / vtr), 6) END AS trend_strength,
       CASE WHEN vr IS NOT NULL AND vsr IS NOT NULL AND vsr <> 0
            THEN ROUND(GREATEST(0.0, 1 - vr / vsr), 6) END AS seasonal_strength,
       n
FROM a
"""


def q_timeops_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ceil/round-to-nearest, between (days), with_tz, parse — the planned
    temporal-arithmetic surface in one projection."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        T.ceil_to_nearest("l_shipdate", 1, "week").alias("ship_ceil_week"),
        T.round_to_nearest("l_shipdate", 12, "hour").alias("ship_round_12h"),
        T.between_time(
            F.col("l_shipdate"), T.ceil_to_nearest("l_shipdate", 1, "week"), "hour"
        ).alias("hours_to_week_ceil"),
        T.with_tz("l_shipdate", "Europe/Berlin").alias("ship_berlin"),
        T.parse_temporal(T.date_string("l_shipdate")).alias("reparsed"),
    )


SQL_TIMEOPS_MISC = """
WITH b AS (
  SELECT l_orderkey, l_linenumber,
         epoch_ms(CAST(l_shipdate AS TIMESTAMP)) AS ship_ms,
         l_shipdate
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       make_timestamp((ship_ms + (604800000 - ship_ms % 604800000) % 604800000) * 1000)
         AS ship_ceil_week,
       make_timestamp(((ship_ms + 21600000) - (ship_ms + 21600000) % 43200000) * 1000)
         AS ship_round_12h,
       CAST(((ship_ms + (604800000 - ship_ms % 604800000) % 604800000) - ship_ms)
            // 3600000 AS BIGINT) AS hours_to_week_ceil,
       timezone('Europe/Berlin', timezone('UTC', CAST(l_shipdate AS TIMESTAMP))) AS ship_berlin,
       CAST(strftime(l_shipdate, '%Y-%m-%d') AS TIMESTAMP) AS reparsed
FROM b
"""


def q_convert_time_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convert-time's 4-way dispatch in one projection: temporal->epoch
    (multiple units), epoch->epoch numeric rescaling (reference
    column/api.clj:64-70, golden days->hours *24), explicit-zone
    temporal->epoch (api_test.clj:21-28 Berlin), epoch->temporal back."""
    ev = _t(spark, sf_dir, "events")
    ed = T.convert_time("ts", "epoch-days")
    eh = T.convert_time("ts", "epoch-hours")
    return ev.select(
        "event_id",
        ed.alias("ed"),
        T.convert_time(ed, "epoch-hours", source_unit="epoch-days").alias("ed_hours"),
        eh.alias("eh"),
        T.convert_time(eh, "epoch-days", source_unit="epoch-hours").alias("eh_days"),
        T.convert_time(eh, "epoch-milliseconds", source_unit="epoch-hours").alias(
            "eh_ms"
        ),
        T.convert_time("ts", "epoch-milliseconds", zone="Europe/Berlin").alias(
            "berlin_ms"
        ),
        F.date_format(
            T.convert_time(ed, "date", source_unit="epoch-days"), "yyyy-MM-dd"
        ).alias("day_back"),
        T.convert_time(
            T.convert_time("ts", "epoch-milliseconds"),
            "timestamp",
            source_unit="epoch-millis",
        ).alias("ts_back"),
    )


SQL_CONVERT_TIME_UNITS = """
WITH b AS (
  SELECT event_id,
         CAST(ts AS TIMESTAMP) AS tss,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
  FROM events
)
SELECT event_id,
       CAST(datediff('day', DATE '1970-01-01', CAST(tss AS DATE)) AS BIGINT) AS ed,
       CAST(datediff('day', DATE '1970-01-01', CAST(tss AS DATE)) * 24 AS BIGINT)
         AS ed_hours,
       CAST(ms // 3600000 AS BIGINT) AS eh,
       CAST(ms // 3600000 // 24 AS BIGINT) AS eh_days,
       CAST((ms // 3600000) * 3600000 AS BIGINT) AS eh_ms,
       epoch_ms(timezone('Europe/Berlin', tss)) AS berlin_ms,
       strftime(CAST(tss AS DATE), '%Y-%m-%d') AS day_back,
       make_timestamp(ms * 1000) AS ts_back
FROM b
"""


SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE
d AS (
  SELECT doc_id, source,
         list_distinct([substring(norm, i, 3) for i in range(1, length(norm)-1)]) AS g
  FROM (SELECT doc_id, source,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        FROM documents WHERE doc_id < 250)
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
  WHERE ROUND(len(list_intersect(a.g, b.g)) * 1.0
              / len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.62
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
),
walk(node, reach) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.reach FROM edges e JOIN walk w ON w.node = e.dst
)
SELECT node AS id, MIN(reach) AS cluster_id FROM walk GROUP BY node
"""


def q_time_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged time-literal printing + parse-back — the engine's analog of
    the reference's time-literals wiring (src/tablecloth/time/
    time_literals.clj:1-17, which registers the juxt time-literals EDN
    readers/printers). Payloads follow java.time toString exactly
    (JDK-17-probe goldens in tests/test_time_literals.py), so the DuckDB
    oracle re-derives every literal with CASE/strftime/epoch arithmetic;
    the events table's microsecond timestamps exercise both fraction
    groups (.123 / .123456) and the seconds-omission rule."""
    from tablecloth_time_spark.functions import literals as L

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    ts = F.col("ts").cast("timestamp")
    ntz = F.col("ts").cast("timestamp_ntz")
    tod_ms = F.pmod(F.unix_micros(ts), F.lit(86_400_000_000)) / 1000
    dur_ms = (tod_ms.cast("long") - F.lit(43_200_000)).cast("long")
    per = F.struct(
        (F.year(ts) - 2024).cast("int").alias("years"),
        (F.month(ts) - 6).cast("int").alias("months"),
        (F.dayofmonth(ts) - 15).cast("int").alias("days"),
    )
    out = ev.select(
        "event_id",
        L.to_time_literal(ts, "date").alias("lit_date"),
        L.to_time_literal(ts, "instant").alias("lit_instant"),
        L.to_time_literal(ntz, "date-time").alias("lit_datetime"),
        L.to_time_literal(ntz, "time").alias("lit_time"),
        L.to_time_literal(ts, "year").alias("lit_year"),
        L.to_time_literal(ts, "year-month").alias("lit_year_month"),
        L.to_time_literal(ts, "month").alias("lit_month"),
        L.to_time_literal(ts, "day-of-week").alias("lit_dow"),
        L.to_time_literal(dur_ms, "duration").alias("lit_duration"),
        L.to_time_literal(per, "period").alias("lit_period"),
        L.to_time_literal(
            ts, "zoned-date-time", zone=F.lit("Europe/Berlin")
        ).alias("lit_zoned"),
        L.to_time_literal(ts, "month-day").alias("lit_month_day"),
        L.to_time_literal(
            ts, "offset-date-time", offset_min=F.lit(330)
        ).alias("lit_offset_dt"),
        L.to_time_literal(
            ntz, "offset-time", offset_min=F.lit(-270)
        ).alias("lit_offset_time"),
    )
    return out.select(
        "*",
        # DATE surfaces as object in pandas — compare as midnight timestamp
        L.parse_time_literal("lit_date", "date")
        .cast("timestamp_ntz")
        .alias("rt_date"),
        L.parse_time_literal("lit_time", "time").alias("rt_time_ms"),
        L.parse_time_literal("lit_duration", "duration").alias("rt_dur_ms"),
    )


SQL_TIME_LITERALS = """
WITH b AS (
  SELECT event_id,
         CAST(ts AS TIMESTAMP) AS tss,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events WHERE event_id < 3000
), c AS (
  SELECT event_id, tss, us,
         ((us % 1000000) + 1000000) % 1000000 AS fr,
         ((us % 86400000000) + 86400000000) % 86400000000 // 1000 AS tod_ms,
         timezone('Europe/Berlin', timezone('UTC', tss)) AS bl
  FROM b
), d AS (
  SELECT *,
         CASE WHEN fr = 0 THEN ''
              WHEN fr % 1000 = 0
                THEN '.' || lpad(CAST(fr // 1000 AS VARCHAR), 3, '0')
              ELSE '.' || lpad(CAST(fr AS VARCHAR), 6, '0') END AS frac,
         CASE WHEN strftime(tss, '%S') = '00' AND fr = 0 THEN ''
              ELSE ':' || strftime(tss, '%S') END AS opt_sec,
         tod_ms - 43200000 AS dms,
         CAST(EXTRACT(year FROM tss) AS INT) - 2024 AS py,
         CAST(EXTRACT(month FROM tss) AS INT) - 6 AS pm,
         CAST(EXTRACT(day FROM tss) AS INT) - 15 AS pd,
         (epoch_ms(bl) - epoch_ms(tss)) // 60000 AS om
  FROM c
), e AS (
  SELECT *,
         CASE WHEN dms < 0 THEN '-' ELSE '' END AS dsign,
         abs(dms) // 3600000 AS dh,
         (abs(dms) % 3600000) // 60000 AS dmi,
         abs(dms) % 60000 AS dsms
  FROM d
)
SELECT event_id,
       '#time/date "' || strftime(tss, '%Y-%m-%d') || '"' AS lit_date,
       '#time/instant "' || strftime(tss, '%Y-%m-%dT%H:%M:%S') || frac || 'Z"'
         AS lit_instant,
       '#time/date-time "' || strftime(tss, '%Y-%m-%dT%H:%M') || opt_sec || frac || '"'
         AS lit_datetime,
       '#time/time "' || strftime(tss, '%H:%M') || opt_sec || frac || '"' AS lit_time,
       '#time/year "' || CAST(CAST(EXTRACT(year FROM tss) AS INT) AS VARCHAR) || '"'
         AS lit_year,
       '#time/year-month "' || strftime(tss, '%Y-%m') || '"' AS lit_year_month,
       '#time/month "' || upper(monthname(tss)) || '"' AS lit_month,
       '#time/day-of-week "' || upper(dayname(tss)) || '"' AS lit_dow,
       '#time/duration "PT'
         || CASE WHEN dh > 0 THEN dsign || CAST(dh AS VARCHAR) || 'H' ELSE '' END
         || CASE WHEN dmi > 0 THEN dsign || CAST(dmi AS VARCHAR) || 'M' ELSE '' END
         || CASE WHEN dsms > 0 OR (dh = 0 AND dmi = 0)
                 THEN dsign || CAST(dsms // 1000 AS VARCHAR)
                      || CASE WHEN dsms % 1000 = 0 THEN ''
                              ELSE '.' || rtrim(lpad(CAST(dsms % 1000 AS VARCHAR), 3, '0'), '0')
                         END || 'S'
                 ELSE '' END
         || '"' AS lit_duration,
       '#time/period "'
         || CASE WHEN py = 0 AND pm = 0 AND pd = 0 THEN 'P0D'
                 ELSE 'P'
                      || CASE WHEN py <> 0 THEN CAST(py AS VARCHAR) || 'Y' ELSE '' END
                      || CASE WHEN pm <> 0 THEN CAST(pm AS VARCHAR) || 'M' ELSE '' END
                      || CASE WHEN pd <> 0 THEN CAST(pd AS VARCHAR) || 'D' ELSE '' END
            END
         || '"' AS lit_period,
       '#time/zoned-date-time "' || strftime(bl, '%Y-%m-%dT%H:%M') || opt_sec || frac
         || CASE WHEN om = 0 THEN 'Z'
                 ELSE CASE WHEN om < 0 THEN '-' ELSE '+' END
                      || lpad(CAST(abs(om) // 60 AS VARCHAR), 2, '0') || ':'
                      || lpad(CAST(abs(om) % 60 AS VARCHAR), 2, '0') END
         || '[Europe/Berlin]"' AS lit_zoned,
       '#time/month-day "--' || strftime(tss, '%m-%d') || '"' AS lit_month_day,
       '#time/offset-date-time "'
         || strftime(tss + INTERVAL 330 MINUTE, '%Y-%m-%dT%H:%M') || opt_sec || frac
         || '+05:30"' AS lit_offset_dt,
       '#time/offset-time "' || strftime(tss, '%H:%M') || opt_sec || frac
         || '-04:30"' AS lit_offset_time,
       CAST(CAST(tss AS DATE) AS TIMESTAMP) AS rt_date,
       CAST(tod_ms AS BIGINT) AS rt_time_ms,
       CAST(dms AS BIGINT) AS rt_dur_ms
FROM e
"""


def q_rollup_tiers_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four retention tiers in ONE grouping-sets pass (Expand + one
    shuffle) as a long-format frame — the engine's all-tiers-in-one-action
    shape (operators/rollup.py:rollup_tiers_long)."""
    from tablecloth_time_spark.operators.rollup import rollup_tiers_long

    ev = _t(spark, sf_dir, "events")
    out = rollup_tiers_long(
        ev, ["user_id"], "ts",
        {"n": ("count", "event_id"), "s": ("sum", "value")},
        order_cols=["ts", "event_id"],
    )
    return out.select(
        "tier", "user_id", "bucket", "n", F.round("s", 6).alias("s")
    )


SQL_ROLLUP_TIERS_LONG = """
SELECT 'second' AS tier, user_id,
       date_trunc('second', CAST(ts AS TIMESTAMP)) AS bucket,
       COUNT(*) AS n, ROUND(SUM(value), 6) AS s
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'minute', user_id, date_trunc('minute', CAST(ts AS TIMESTAMP)),
       COUNT(*), ROUND(SUM(value), 6)
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'hour', user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)),
       COUNT(*), ROUND(SUM(value), 6)
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', user_id, date_trunc('day', CAST(ts AS TIMESTAMP)),
       COUNT(*), ROUND(SUM(value), 6)
FROM events GROUP BY 2, 3
"""


def q_asof_join_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (nearest predecessor per key): each event matched to the
    most recent COMPLETED hourly per-user rollup (bucket end <= event ts).
    Union+window plan — one shuffle, no range-join explosion; oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from tablecloth_time_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "user_id",
            (T.down_to_nearest("ts", 1, "hour") + F.expr("INTERVAL 1 HOUR")).alias(
                "rts"
            ),
        )
        .agg(F.round(F.sum("value"), 6).alias("hour_sum"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        hourly,
        on="user_id",
        left_ts="ts",
        right_ts="rts",
    )
    return out.select("event_id", "user_id", "ts", "matched_ts", "hour_sum")


SQL_ASOF_JOIN_RATES = """
WITH r AS (
  SELECT user_id,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS rts,
         ROUND(SUM(value), 6) AS hour_sum
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       r.rts AS matched_ts, r.hour_sum
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND CAST(e.ts AS TIMESTAMP) >= r.rts
"""


def q_asof_nearest_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join direction='nearest' (pandas merge_asof semantics, ties
    -> backward): each event matched to the CLOSER of the preceding and
    following hourly rollup point. Oracle: two native DuckDB ASOF joins
    (>= and <=) with the distance/tie pick re-derived in SQL — exact
    because the right side is unique per (user_id, rts)."""
    from tablecloth_time_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id",
        (T.down_to_nearest("ts", 1, "hour") + F.expr("INTERVAL 1 HOUR")).alias(
            "rts"
        ),
    ).agg(F.round(F.sum("value"), 6).alias("hour_sum"))
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        hourly,
        on="user_id",
        left_ts="ts",
        right_ts="rts",
        direction="nearest",
    )
    return out.select("event_id", "user_id", "ts", "matched_ts", "hour_sum")


SQL_ASOF_NEAREST_RATES = """
WITH r AS (
  SELECT user_id,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS rts,
         ROUND(SUM(value), 6) AS hour_sum
  FROM events GROUP BY 1, 2
), b AS (
  SELECT e.event_id, r.rts AS b_ts, r.hour_sum AS b_sum
  FROM events e ASOF LEFT JOIN r
    ON e.user_id = r.user_id AND CAST(e.ts AS TIMESTAMP) >= r.rts
), f AS (
  SELECT e.event_id, r.rts AS f_ts, r.hour_sum AS f_sum
  FROM events e ASOF LEFT JOIN r
    ON e.user_id = r.user_id AND CAST(e.ts AS TIMESTAMP) <= r.rts
)
SELECT e.event_id, e.user_id, e.ts,
       CASE WHEN f.f_ts IS NULL THEN b.b_ts
            WHEN b.b_ts IS NULL THEN f.f_ts
            WHEN epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(b.b_ts)
                 <= epoch_us(f.f_ts) - epoch_us(CAST(e.ts AS TIMESTAMP))
              THEN b.b_ts ELSE f.f_ts END AS matched_ts,
       CASE WHEN f.f_ts IS NULL THEN b.b_sum
            WHEN b.b_ts IS NULL THEN f.f_sum
            WHEN epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(b.b_ts)
                 <= epoch_us(f.f_ts) - epoch_us(CAST(e.ts AS TIMESTAMP))
              THEN b.b_sum ELSE f.f_sum END AS hour_sum
FROM events e
JOIN b ON b.event_id = e.event_id
JOIN f ON f.event_id = e.event_id
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): per-session stats via
    the lag/flag/running-sum window construction (one shuffle on the key)."""
    from tablecloth_time_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    out = session_stats(
        ev, "user_id", "ts", 30, "minute",
        aggs={"sum_value": ("sum", "value")},
        order_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "session_idx",
        "session_start",
        "session_end",
        "duration_ms",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


SQL_SESSIONIZE_EVENTS = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         lag(epoch_ms(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
s AS (
  SELECT *,
         CAST(SUM(CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx
  FROM o
)
SELECT user_id, session_idx,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       MAX(ms) - MIN(ms) AS duration_ms,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM s
GROUP BY 1, 2
"""


def q_pivot_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot->wider (host-library recipe): daily event counts, one column
    per event type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(T.date_string("ts").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


SQL_PIVOT_DAILY_TYPES = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events
GROUP BY 1
"""


def q_counter_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event stream features on one frame: reset-aware counter delta +
    per-second rate (Prometheus increase/rate semantics as pure lag-window
    exprs) AND the irregular-time EWMA (adjusted form, halflife 1 h — r4:
    also a pure window plan via the decay-factor cancellation, with
    `carry_cols` threading the window features through). The former
    standalone ewma_value query, folded here to free a slot in the
    driver's 50-query budget; the oracle re-derives the EWMA as a
    recursive CTE over the sequential form of the same recurrence
    (operators/counters.py:counter_rate, ewma)."""
    from tablecloth_time_spark.operators.counters import counter_rate, ewma

    ev = _t(spark, sf_dir, "events")
    cr = counter_rate(
        ev.select("event_id", "user_id", "ts", "value"),
        "user_id", "ts", "value", order_cols=["event_id"],
    )
    out = ewma(
        cr, "user_id", "ts", "value", halflife=1, unit="hour",
        order_cols=["event_id"],
        carry_cols=["event_id", "delta", "rate_per_s"],
    )
    # ewma rounds to 4 (not 6): the engine's segmented prefix sums and the
    # oracle's recursive CTE accumulate the same recurrence in different
    # orders, and at 100k+ rows some true value lands within one ULP of a
    # 1e-6 rounding boundary (observed at sf0.1 with the former Arrow
    # kernel: 57.668507 vs 57.668506). 1e-4 keeps the check meaningful
    # with ~100x the boundary margin.
    return out.select(
        "event_id", "user_id", "ts_ms",
        F.round("delta", 6).alias("delta"),
        F.round("rate_per_s", 6).alias("rate_per_s"),
        F.round("ewma", 4).alias("ewma"),
    )


SQL_COUNTER_RATE_EVENTS = """
WITH RECURSIVE o AS (
  SELECT event_id, user_id, value,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
         lag(value) OVER w AS prev_v,
         epoch_ms(CAST(ts AS TIMESTAMP))
           - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w AS dt_ms,
         row_number() OVER w AS rn,
         POWER(0.5, (epoch_ms(CAST(ts AS TIMESTAMP))
                     - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w)
                    / 3600000.0) AS decay
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
rec AS (
  SELECT user_id, rn, value AS num, CAST(1.0 AS DOUBLE) AS den
  FROM o WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn,
         b.value + b.decay * r.num,
         1.0 + b.decay * r.den
  FROM o b JOIN rec r ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT o.event_id, o.user_id, o.ts_ms,
       ROUND(CASE WHEN o.prev_v IS NULL THEN NULL
                  WHEN o.value - o.prev_v < 0 THEN o.value
                  ELSE o.value - o.prev_v END, 6) AS delta,
       ROUND(CASE WHEN o.prev_v IS NULL OR o.dt_ms <= 0 THEN NULL
                  WHEN o.value - o.prev_v < 0 THEN o.value / (o.dt_ms / 1000.0)
                  ELSE (o.value - o.prev_v) / (o.dt_ms / 1000.0) END,
             6) AS rate_per_s,
       ROUND(rec.num / rec.den, 4) AS ewma
FROM o JOIN rec ON o.user_id = rec.user_id AND o.rn = rec.rn
"""


def q_twa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (LOCF weighting over the observed span) per
    (user, day) — the irregular-sampling correction to a plain avg
    (operators/counters.py:time_weighted_avg) — PLUS the uptime/SLO view
    on the same (user, day) grain: covered milliseconds and coverage
    fraction of the user's 30-min-gap sessions
    (operators/intervals.py:interval_coverage over
    operators/sessions.py:session_stats spans; merge_first=False because
    gap-based sessions are disjoint per key by construction). Folded to
    stay inside the driver's 50-query budget; coverage is exact long
    arithmetic / one exact division, so no rounding is needed."""
    from tablecloth_time_spark.operators.counters import time_weighted_avg
    from tablecloth_time_spark.operators.intervals import interval_coverage
    from tablecloth_time_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    out = time_weighted_avg(
        ev, "user_id", "ts", "value", 1, "day", order_cols=["event_id"]
    )
    sess = session_stats(
        ev, "user_id", "ts", 30, "minute", aggs={}, order_cols=["event_id"]
    )
    cov = interval_coverage(
        sess, "user_id", "session_start", "session_end", 1, "day",
        merge_first=False,
    )
    return (
        out.join(cov, ["user_id", "bucket"], "left")
        .select(
            "user_id",
            "bucket",
            F.round("twa", 6).alias("twa"),
            F.coalesce("covered_ms", F.lit(0)).alias("covered_ms"),
            F.coalesce("coverage", F.lit(0.0)).alias("coverage"),
        )
    )


SQL_TWA_DAILY = """
WITH o AS (
  SELECT user_id,
         date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
         value,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         event_id,
         CAST(lead(epoch_ms(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
                 ORDER BY ts, event_id)
           - epoch_ms(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS w
  FROM events
),
a AS (
  SELECT user_id, bucket,
         SUM(value * w) AS num, SUM(w) AS den,
         (min(struct_pack(m := ms, o0 := event_id, v := value))).v AS first_v
  FROM o GROUP BY 1, 2
),
so AS (
  SELECT user_id, ts, event_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         lag(epoch_ms(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
sg AS (
  SELECT user_id, ms,
         SUM(CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM so
),
sess AS (
  SELECT user_id, MIN(ms) AS s, MAX(ms) AS e
  FROM sg GROUP BY user_id, sid
),
ex AS (
  SELECT user_id, s, e,
         unnest(generate_series(s // 86400000, (e - 1) // 86400000)) AS b
  FROM sess WHERE e > s
),
cov AS (
  SELECT user_id, make_timestamp(b * 86400000 * 1000) AS bucket,
         CAST(SUM(LEAST(e, (b + 1) * 86400000) - GREATEST(s, b * 86400000))
           AS BIGINT) AS covered_ms
  FROM ex GROUP BY 1, 2
)
SELECT a.user_id, a.bucket,
       ROUND(CASE WHEN den > 0 THEN num / den ELSE first_v END, 6) AS twa,
       COALESCE(cov.covered_ms, 0) AS covered_ms,
       COALESCE(cov.covered_ms, 0) / 86400000.0 AS coverage
FROM a LEFT JOIN cov ON a.user_id = cov.user_id AND a.bucket = cov.bucket
"""


def q_detect_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-gap detection per user (consecutive samples > 2 h apart) —
    the pre-flight a backfill/gap-fill pipeline runs
    (operators/counters.py:detect_gaps)."""
    from tablecloth_time_spark.operators.counters import detect_gaps

    ev = _t(spark, sf_dir, "events")
    return detect_gaps(ev, "user_id", "ts", 2, "hour", order_cols=["event_id"])


SQL_DETECT_GAPS = """
WITH o AS (
  SELECT user_id,
         lag(ts) OVER w AS gap_start,
         ts AS gap_end,
         epoch_ms(CAST(ts AS TIMESTAMP))
           - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w AS gap_ms
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, gap_start, gap_end, gap_ms / 1000.0 AS gap_s
FROM o WHERE gap_ms > 7200000
"""


def q_interval_join_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join: all events (any user) that happened inside
    another user's >4h coverage gap — points x intervals without the
    cartesian/range-join explosion (operators/intervals.py)."""
    from tablecloth_time_spark.operators.counters import detect_gaps
    from tablecloth_time_spark.operators.intervals import interval_join

    ev = _t(spark, sf_dir, "events")
    gaps = (
        detect_gaps(ev, "user_id", "ts", 4, "hour", order_cols=["event_id"])
        .filter(F.col("user_id") < 5)
        .select(
            F.col("user_id").alias("gap_user"),
            "gap_start",
            "gap_end",
        )
    )
    out = interval_join(
        ev.select("event_id", "user_id", "ts"),
        gaps,
        point_ts="ts",
        start_col="gap_start",
        end_col="gap_end",
        bucket_width=4,
        unit="hour",
    )
    return out.select("event_id", "user_id", "gap_user", "gap_start", "gap_end")


SQL_INTERVAL_JOIN_GAPS = """
WITH o AS (
  SELECT user_id,
         lag(ts) OVER w AS gap_start,
         ts AS gap_end,
         epoch_ms(CAST(ts AS TIMESTAMP))
           - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w AS gap_ms
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT user_id AS gap_user, gap_start, gap_end
  FROM o WHERE gap_ms > 14400000 AND user_id < 5
)
SELECT e.event_id, e.user_id, g.gap_user, g.gap_start, g.gap_end
FROM events e JOIN g
  -- the engine compares in its int64 epoch-millis pivot; mirror that
  ON epoch_ms(CAST(e.ts AS TIMESTAMP)) >= epoch_ms(CAST(g.gap_start AS TIMESTAMP))
 AND epoch_ms(CAST(e.ts AS TIMESTAMP)) <  epoch_ms(CAST(g.gap_end AS TIMESTAMP))
"""


def q_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles per event type — first/last/min/max as mergeable
    struct aggregates, so candles cascade across tiers like any rollup
    (operators/rollup.py:ohlc) — plus exact p50/p95/p99 from
    percentile_rollup joined on the same (event_type, bucket) keys (the
    former standalone percentile_daily query, folded here to stay inside
    the driver's 50-query correctness budget; both tiny aggregate frames,
    broadcast join)."""
    from tablecloth_time_spark.operators.rollup import ohlc
    from tablecloth_time_spark.operators.stats import percentile_rollup

    ev = _t(spark, sf_dir, "events")
    candles = ohlc(
        ev, ["event_type"], "ts", "value", 1, "day",
        order_cols=["ts", "event_id"],
    )
    pct = percentile_rollup(ev, ["event_type"], "ts", "value", 1, "day")
    return candles.join(F.broadcast(pct), ["event_type", "bucket"]).select(
        "event_type", "bucket", "open", "high", "low", "close",
        F.round("p50", 6).alias("p50"),
        F.round("p95", 6).alias("p95"),
        F.round("p99", 6).alias("p99"),
    )


SQL_OHLC_DAILY = """
WITH o AS (
  SELECT event_type,
         date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
         value,
         row_number() OVER (PARTITION BY event_type,
                              date_trunc('day', CAST(ts AS TIMESTAMP))
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY event_type,
                              date_trunc('day', CAST(ts AS TIMESTAMP))
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM o
GROUP BY 1, 2
"""


def q_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 heavy-hitter event types per day by count — hash-aggregate
    counts (map-side combined) + rank window over the tiny distinct frame
    (operators/stats.py:topk_per_bucket)."""
    from tablecloth_time_spark.operators.stats import topk_per_bucket

    ev = _t(spark, sf_dir, "events")
    return topk_per_bucket(ev, "event_type", "ts", 1, "day", k=3)


SQL_TOPK_EVENT_TYPES = """
WITH c AS (
  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT bucket, event_type, n,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY bucket
                               ORDER BY n DESC, event_type ASC) AS rnk
  FROM c
)
WHERE rnk <= 3
"""


def q_gapfill_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-unit gap-fill (r3): monthly regular grid per order priority
    over a sparse orders subset (o_orderkey % 97 keeps ~1% of orders so real
    month gaps exist across the 1995..2001 span), ffill-filled. Grid steps
    by INTERVAL 1 MONTH via sequence(); buckets are calendar month floors
    (reference spec development-plan.md:566-585, any interval x unit)."""
    from tablecloth_time_spark.operators.gapfill import resample_to_regular_grid

    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 97 == 0)
    out = resample_to_regular_grid(
        orders.select(
            "o_orderpriority",
            F.col("o_orderdate").cast("timestamp").alias("ots"),
            F.col("o_totalprice").alias("price"),
        ),
        ["o_orderpriority"], "ots", "price", 1, "month", method="ffill",
        agg="avg",
    )
    return out.select(
        "o_orderpriority", "bucket", F.round("price", 6).alias("avg_price")
    )


SQL_GAPFILL_MONTHLY = """
WITH f AS (
  SELECT o_orderpriority,
         date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS bucket,
         AVG(o_totalprice) AS v
  FROM orders WHERE o_orderkey % 97 = 0
  GROUP BY 1, 2
),
spans AS (
  SELECT o_orderpriority, MIN(bucket) AS lo, MAX(bucket) AS hi FROM f GROUP BY 1
),
grid AS (
  SELECT o_orderpriority, unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS bucket
  FROM spans
),
j AS (
  SELECT g.o_orderpriority, g.bucket, f.v
  FROM grid g LEFT JOIN f ON g.o_orderpriority = f.o_orderpriority
                         AND g.bucket = f.bucket
)
SELECT o_orderpriority, bucket,
       ROUND(last_value(v IGNORE NULLS)
               OVER (PARTITION BY o_orderpriority ORDER BY bucket
                     ROWS UNBOUNDED PRECEDING), 6) AS avg_price
FROM j
"""


def q_benchmark_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fpp3 chapter-5 benchmark forecasts (mean/naive/snaive/drift) plus
    the chapter-8 SES level (fixed alpha=0.3, closed-form weighted
    aggregate — no recurrence, no Python) of the daily event-count series
    per event type, 14 days ahead with a weekly season — mean/naive/drift
    from ONE per-key hash aggregate, snaive an equi-join against the last
    m observations, ses one window-weighted sum
    (operators/forecast.py:benchmark_forecast). PLUS the fpp3 §5.8
    backtest: hold out each series' last 7 observations, forecast them
    from the training prefix, and score MAE/RMSE/MAPE/MASE per
    (series, method) (operators/forecast.py:backtest_accuracy) — folded
    onto the forecast rows by a broadcast join on (event_type, method) to
    stay inside the driver's 50-query budget; snaive and ses keep null
    metrics (not backtested — 7 test steps is exactly one season, and the
    ses level is already pinned by the forecast rows)."""
    from tablecloth_time_spark.operators.forecast import (
        backtest_accuracy,
        benchmark_forecast,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = benchmark_forecast(
        daily, "event_type", "day", "y", horizon=14, interval=1, unit="day",
        methods=("mean", "naive", "snaive", "drift", "ses"),
        season_length=7, alpha=0.3,
    )
    fc = out.select(
        "event_type", "method",
        F.col("h").cast("long").alias("h"),
        "ts",
        F.round("forecast", 6).alias("forecast"),
    )
    acc = backtest_accuracy(
        daily, "event_type", "day", "y", test_steps=7, interval=1,
        unit="day", methods=("mean", "naive", "drift"),
    ).select(
        "event_type", "method",
        F.round("mae", 6).alias("mae"),
        F.round("rmse", 6).alias("rmse"),
        F.round("mape", 6).alias("mape"),
        F.round("mase", 6).alias("mase"),
    )
    return fc.join(F.broadcast(acc), ["event_type", "method"], "left")


def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical Theta-method forecasts (Assimakopoulos & Nikolopoulos
    2000; the M3 winner) of the daily event-count series per event type,
    14 days ahead — via the Hyndman & Billah 2003 equivalence theta ==
    SES + drift, so the whole forecast is ONE per-key aggregate pass (the
    closed-form SES weighted sum + regr_slope) with no recurrence and no
    Python (operators/forecast.py theta branch)."""
    from tablecloth_time_spark.operators.forecast import benchmark_forecast

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = benchmark_forecast(
        daily, "event_type", "day", "y", horizon=14, interval=1,
        unit="day", methods=("theta",), alpha=0.3,
    )
    return out.select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        "ts",
        F.round("forecast", 6).alias("forecast"),
    )


SQL_THETA_FORECAST = """
WITH d AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, COUNT(*) AS n, MAX(day) AS last_day
  FROM d GROUP BY 1
),
tail AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rnd
  FROM d
),
-- SES closed form (same shape as the benchmark_forecast oracle) plus the
-- OLS slope of y on the ascending index t = n - rnd + 1 (regr_slope)
lv AS (
  SELECT t.event_type,
         SUM(CASE WHEN t.rnd = s.n THEN POWER(0.7, s.n - 1) * t.y
                  ELSE 0.3 * POWER(0.7, t.rnd - 1) * t.y END) AS l,
         regr_slope(t.y, CAST(s.n - t.rnd + 1 AS DOUBLE)) AS b,
         MAX(s.n) AS bign
  FROM tail t JOIN s USING (event_type) GROUP BY 1
),
hs AS (
  SELECT s.event_type, lv.l, lv.b, lv.bign, s.last_day,
         unnest(generate_series(1, 14)) AS h
  FROM s JOIN lv USING (event_type)
)
SELECT event_type, CAST(h AS BIGINT) AS h,
       last_day + h * INTERVAL 1 DAY AS ts,
       -- Hyndman & Billah 2003 drift multiplier, parenthesized exactly as
       -- the engine writes it (last-ULP parity for the exact hash)
       CASE WHEN bign >= 2
            THEN ROUND(l + ((h - 1) + 1/0.3 - POWER(0.7, bign)/0.3)
                           * (b / 2), 6) END AS forecast
FROM hs
"""


def q_brown_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown 1956 double-exponential-smoothing (linear-trend) forecasts of
    the daily event-count series per event type, 14 days ahead. The
    chained recurrence s2_t = a*s1_t + (1-a)*s2_{t-1} collapses to a
    SECOND closed-form weighted sum in the same single per-key aggregate
    pass as SES (coefficient a^2*rn*(1-a)^(rn-1) on the rn-th newest
    observation) — no recurrence, no Python (operators/forecast.py brown
    branch, derivation in the module docstring)."""
    from tablecloth_time_spark.operators.forecast import benchmark_forecast

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = benchmark_forecast(
        daily, "event_type", "day", "y", horizon=14, interval=1,
        unit="day", methods=("brown",), alpha=0.3,
    )
    return out.select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        "ts",
        F.round("forecast", 6).alias("forecast"),
    )


SQL_BROWN_FORECAST = """
WITH d AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, COUNT(*) AS n, MAX(day) AS last_day
  FROM d GROUP BY 1
),
tail AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rnd
  FROM d
),
-- Brown double smoothing as TWO closed-form weighted sums over the same
-- pass: s1 is the SES kernel, s2's coefficient on the rnd-th newest row is
-- a^2 * rnd * (1-a)^(rnd-1), the oldest keeping (1-a)^(n-1)*(1 + a*(n-1))
-- (engine derivation: operators/forecast.py module docstring)
lv AS (
  SELECT t.event_type,
         SUM(CASE WHEN t.rnd = s.n THEN POWER(0.7, s.n - 1) * t.y
                  ELSE 0.3 * POWER(0.7, t.rnd - 1) * t.y END) AS s1,
         SUM(CASE WHEN t.rnd = s.n
                  THEN POWER(0.7, s.n - 1) * (1 + 0.3 * (s.n - 1)) * t.y
                  ELSE 0.3 * 0.3 * t.rnd * POWER(0.7, t.rnd - 1) * t.y
             END) AS s2
  FROM tail t JOIN s USING (event_type) GROUP BY 1
),
hs AS (
  SELECT s.event_type, lv.s1, lv.s2, s.last_day,
         unnest(generate_series(1, 14)) AS h
  FROM s JOIN lv USING (event_type)
)
SELECT event_type, CAST(h AS BIGINT) AS h,
       last_day + h * INTERVAL 1 DAY AS ts,
       -- level 2*s1 - s2, trend a/(1-a)*(s1 - s2), parenthesized exactly
       -- as the engine writes it (last-ULP parity for the exact hash)
       ROUND(2.0 * s1 - s2 + h * (0.3 / (1.0 - 0.3)) * (s1 - s2), 6)
         AS forecast
FROM hs
"""


def q_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast (Croston 1972) of each
    user's DAILY ERROR BURSTS — a naturally sparse stream (most
    user-days have no errors). Works on the sparse representation
    directly: demand days only, intervals measured through timestamp
    gaps, no gap-fill. Both smoothers are closed-form SES weighted sums
    in ONE window pass + one hash aggregate
    (operators/forecast.py:croston_forecast)."""
    from tablecloth_time_spark.operators.forecast import croston_forecast

    ev = _t(spark, sf_dir, "events")
    demand = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    out = croston_forecast(
        demand, "user_id", "day", "y", interval=1, unit="day", alpha=0.1,
    )
    return out.select(
        "user_id",
        F.col("n_demands").cast("long").alias("n_demands"),
        F.round("z_hat", 6).alias("z_hat"),
        F.round("p_hat", 6).alias("p_hat"),
        F.round("forecast", 6).alias("forecast"),
    )


SQL_CROSTON_INTERMITTENT = """
WITH d AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
),
-- sparse Croston frame: demand rows only; the interval sequence's
-- reversed index is the running count of non-null gaps in the same
-- descending sort (engine: operators/forecast.py:croston_forecast)
g0 AS (
  SELECT user_id, day, y,
         (epoch_ms(day) - epoch_ms(lag(day) OVER (
            PARTITION BY user_id ORDER BY day ASC))) / 86400000.0 AS gap
  FROM d
),
g AS (
  SELECT user_id, y, gap,
         row_number() OVER w_desc AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         COUNT(gap) OVER (w_desc
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rnp,
         COUNT(gap) OVER (PARTITION BY user_id) AS np
  FROM g0
  WINDOW w_desc AS (PARTITION BY user_id ORDER BY day DESC)
),
agg AS (
  SELECT user_id,
         COUNT(*) AS n_demands,
         SUM(CASE WHEN rn = n THEN POWER(0.9, n - 1) * y
                  ELSE 0.1 * POWER(0.9, rn - 1) * y END) AS z_hat,
         SUM(CASE WHEN gap IS NOT NULL
                  THEN (CASE WHEN rnp = np THEN POWER(0.9, np - 1)
                             ELSE 0.1 * POWER(0.9, rnp - 1) END) * gap
             END) AS p_hat
  FROM g GROUP BY 1
)
SELECT user_id, CAST(n_demands AS BIGINT) AS n_demands,
       ROUND(z_hat, 6) AS z_hat,
       ROUND(p_hat, 6) AS p_hat,
       ROUND(z_hat / p_hat, 6) AS forecast
FROM agg
"""


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecasts (the general two-parameter exponential
    smoother; Brown above is its equal-parameter special case) of the
    daily event-count series per event type, 14 days ahead. The coupled
    level/trend recurrence unrolls via Cayley-Hamilton into ONE weighted
    aggregate over one per-key sort — the scalar sequences (p_j, q_j)
    with F^j = p_j F + q_j I have closed forms picked from the
    discriminant driver-side (operators/forecast.py:holt_forecast;
    alpha=0.8, beta=0.2 sits in the real-distinct-eigenvalue branch, so
    the oracle replays plain POWER terms)."""
    from tablecloth_time_spark.operators.forecast import holt_forecast

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = holt_forecast(
        daily, "event_type", "day", "y", horizon=14, interval=1,
        unit="day", alpha=_HOLT_A, beta=_HOLT_B, phi=1.0,
    )
    return out.select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        "ts",
        F.round("forecast", 6).alias("forecast"),
    )


# Holt oracle constants — the SAME scalar math operators/forecast.py runs
# driver-side, inlined as literals into the SQL below so both engines
# evaluate identical POWER bases (real-distinct branch: disc > 0).
_HOLT_A, _HOLT_B = 0.8, 0.2
_HOLT_TR = (1.0 - _HOLT_A) + (1.0 - _HOLT_A * _HOLT_B)
_HOLT_DET = 1.0 - _HOLT_A
_HOLT_SQ = math.sqrt(_HOLT_TR * _HOLT_TR - 4.0 * _HOLT_DET)  # math.sqrt,
# NOT ** 0.5 — the engine uses math.sqrt and pow(x, 0.5) is not
# guaranteed correctly rounded on every libm; the literals must be
# bit-identical on both sides (_dlit rule)
_HOLT_L1 = (_HOLT_TR + _HOLT_SQ) / 2.0
_HOLT_L2 = (_HOLT_TR - _HOLT_SQ) / 2.0
_HOLT_DL = _HOLT_L1 - _HOLT_L2
_HOLT_G0, _HOLT_G1 = _HOLT_A, _HOLT_A * _HOLT_B
_HOLT_FG0 = (1.0 - _HOLT_A) * _HOLT_A + (1.0 - _HOLT_A) * _HOLT_A * _HOLT_B
_HOLT_FG1 = (
    -_HOLT_A * _HOLT_B * _HOLT_A
    + (1.0 - _HOLT_A * _HOLT_B) * _HOLT_A * _HOLT_B
)
_HOLT_FC2_0 = (1.0 - _HOLT_A) * 2.0
_HOLT_FC2_1 = -_HOLT_A * _HOLT_B + (1.0 - _HOLT_A * _HOLT_B)
_HOLT_FC1_0 = 1.0 - _HOLT_A
_HOLT_FC1_1 = 1.0 - _HOLT_A * _HOLT_B


def _dlit(x: float) -> str:
    """A double literal DuckDB parses to the EXACT same bits as Python:
    string->double casts are correctly rounded, while long bare decimal
    literals go through DECIMAL and can land one ULP off (measured:
    0.19199999999999998 as a bare literal parses to 0.192)."""
    return f"'{x!r}'::DOUBLE"


def _holt_pq_sql(j: str) -> tuple[str, str]:
    """(p_j, q_j) SQL for the real-distinct branch, parenthesized exactly
    as the engine's Column expressions (last-ULP parity)."""
    l1, l2, dl = map(_dlit, (_HOLT_L1, _HOLT_L2, _HOLT_DL))
    p = f"((POWER({l1}, {j}) - POWER({l2}, {j})) / {dl})"
    q = (
        f"(({l1} * POWER({l2}, {j}) - {l2} * POWER({l1}, {j})) / {dl})"
    )
    return p, q


def _holt_sql() -> str:
    ps, qs = _holt_pq_sql("CAST(rn - 1 AS DOUBLE)")
    pi, qi = _holt_pq_sql("CAST(n - 2 AS DOUBLE)")
    return f"""
WITH d AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
o AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM d
),
-- Cayley-Hamilton weights (engine derivation in operators/forecast.py):
-- sum rows j = rn-1 weight p_j*Fg + q_j*g; the two init rows carry
-- F^(T-2) applied to s_2 = y_2*(1,1) - y_1*(0,1)
w AS (
  SELECT event_type,
         (CASE WHEN rn = n THEN -({pi} * {_dlit(_HOLT_FC1_0)})
               WHEN rn = n - 1 THEN {pi} * {_dlit(_HOLT_FC2_0)} + {qi}
               ELSE {ps} * {_dlit(_HOLT_FG0)} + {qs} * {_dlit(_HOLT_G0)}
          END) * y AS wl,
         (CASE WHEN rn = n THEN -({pi} * {_dlit(_HOLT_FC1_1)} + {qi})
               WHEN rn = n - 1 THEN {pi} * {_dlit(_HOLT_FC2_1)} + {qi}
               ELSE {ps} * {_dlit(_HOLT_FG1)} + {qs} * {_dlit(_HOLT_G1)}
          END) * y AS wb
  FROM o
),
lv AS (
  SELECT event_type, SUM(wl) AS l, SUM(wb) AS b
  FROM w GROUP BY 1
),
s AS (
  SELECT event_type, COUNT(*) AS n, MAX(day) AS last_day
  FROM d GROUP BY 1
),
hs AS (
  SELECT s.event_type, lv.l, lv.b, s.n, s.last_day,
         unnest(generate_series(1, 14)) AS h
  FROM s JOIN lv USING (event_type)
)
SELECT event_type, CAST(h AS BIGINT) AS h,
       last_day + h * INTERVAL 1 DAY AS ts,
       ROUND(CASE WHEN n >= 2
                  THEN l + CAST(h AS DOUBLE) * b END, 6) AS forecast
FROM hs
"""


SQL_HOLT_FORECAST = _holt_sql()


def q_turn_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation turn-taking analytics applied with generic role
    semantics — per-user view->click funnel over events: turn counts,
    text mass and response-latency distribution (mean + exact p95) per
    sequence. ONE lag window on the sequence key whose Exchange the
    aggregate reuses (operators/transcripts.py:conversation_stats; the
    transcript-shaped contract is pinned in
    tests/test_transcripts_analytics.py)."""
    from tablecloth_time_spark.operators.transcripts import (
        conversation_stats,
    )

    ev = _t(spark, sf_dir, "events")
    out = conversation_stats(
        ev,
        conv_col="user_id",
        order_cols=["ts", "event_id"],
        ts_col="ts",
        role_col="event_type",
        text_col="props",
        tool_col=None,
        initiator="view",
        responder="click",
    )
    return out.select(
        "user_id", "n_turns", "duration_s", "n_initiator", "n_responder",
        "chars_initiator", "chars_responder", "n_responses",
        F.round("mean_response_s", 6).alias("mean_response_s"),
        F.round("p95_response_s", 6).alias("p95_response_s"),
    )


def q_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema time rollup: quarterly order revenue per region and
    nation — the fact table joins DIMENSIONS that are explicitly
    broadcast (customer/nation/region are orders-of-magnitude smaller
    than facts at any scale; `F.broadcast` pins BroadcastHashJoin so the
    fact side never shuffles for the dim lookups), then one mergeable
    rollup on the calendar-quarter floor. The canonical
    dims-broadcast + facts-shuffle-once shape every warehouse time
    series query wants at 100 TB."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    from tablecloth_time_spark.functions.timeops import floor_to_quarter

    joined = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return (
        joined.groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            floor_to_quarter("o_orderdate").cast("timestamp").alias("quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


SQL_STAR_ROLLUP = """
SELECT r.r_name AS region, n.n_name AS nation,
       date_trunc('quarter', CAST(o.o_orderdate AS TIMESTAMP)) AS quarter,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2, 3
"""

# weekday holidays inside the orders date range (1995-2001); weekend
# holidays are no-ops by construction so only weekdays are listed
_BUSDAY_HOLIDAYS = ["1995-12-25", "1996-07-04", "1997-01-01", "1998-11-26"]


def q_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day calendar arithmetic over order dates: validity flag
    (Mon-Fri minus a literal holiday list), the monotone business-day
    index, next business day, T+5 settlement date, and the numpy
    busday_count-semantics count of valid days in [orderdate,
    orderdate+30d). Pure integer div/mod codegen riding the scan — no
    join, no shuffle, no Python; numpy busday_offset/busday_count is the
    pytest oracle (functions/busdays.py; extends the reference's
    calendar-field surface, src/tablecloth/time/column/api.clj)."""
    from tablecloth_time_spark.functions.busdays import (
        add_business_days,
        business_day_index,
        business_days_between,
        is_business_day,
        next_business_day,
    )

    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    # temporal outputs go out as timestamps (house rule: DateType maps to
    # python-object cells in Arrow->pandas, which the driver hash and the
    # byte-exact self-check can't canonicalize)
    return o.select(
        "o_orderkey",
        d.cast("timestamp").alias("d"),
        is_business_day(d, holidays=_BUSDAY_HOLIDAYS).alias("is_bd"),
        business_day_index(d).alias("bidx"),
        next_business_day(d).cast("timestamp").alias("next_bd"),
        add_business_days(d, 5).cast("timestamp").alias("settle_t5"),
        business_days_between(
            d, F.date_add(d, 30), holidays=_BUSDAY_HOLIDAYS
        ).alias("bd_next30"),
    )


def _sql_business_days() -> str:
    hol_days = ", ".join(
        str((__import__("datetime").date.fromisoformat(h)
             - __import__("datetime").date(1970, 1, 1)).days)
        for h in _BUSDAY_HOLIDAYS
    )
    # same closed-form integer arithmetic as functions/busdays.py:
    # dow0 Mon=0..Sun=6 from epoch days (day 0 = Thursday), Monday-aligned
    # week number, bidx = 5*week + min(dow0, 4); inverse via div/mod 5.
    # bd_next30 interval is forward-only, so no reversed-pair correction.
    return f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(o_orderdate AS DATE) AS d,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS days
  FROM orders
),
ix AS (
  SELECT *,
         (days + 3) % 7 AS dow0,
         5 * ((days + 3) // 7) + LEAST((days + 3) % 7, 4) AS bidx,
         days + 30 AS days30,
         (days + 33) % 7 AS dow30
  FROM base
)
SELECT o_orderkey,
       CAST(d AS TIMESTAMP) AS d,
       dow0 <= 4 AND days NOT IN ({hol_days}) AS is_bd,
       CAST(bidx AS BIGINT) AS bidx,
       CAST(DATE '1970-01-01'
         + CAST(7 * ((bidx + 1) // 5) + (bidx + 1) % 5 - 3 AS INTEGER)
         AS TIMESTAMP) AS next_bd,
       CAST(DATE '1970-01-01'
         + CAST(7 * ((bidx + 5) // 5) + (bidx + 5) % 5 - 3 AS INTEGER)
         AS TIMESTAMP) AS settle_t5,
       CAST(
         (5 * ((days30 + 3) // 7) + LEAST(dow30, 4)
            + CASE WHEN dow30 <= 4 THEN 0 ELSE 1 END)
         - (bidx + CASE WHEN dow0 <= 4 THEN 0 ELSE 1 END)
         - (SELECT COUNT(*) FROM (VALUES ({hol_days.replace(", ", "), (")}))
              AS h(hd)
            WHERE h.hd >= ix.days AND h.hd < ix.days30)
       AS BIGINT) AS bd_next30
FROM ix
"""


def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness (DAU/MAU per day): two interval-merge
    rolling-actives frames (window 1 and window 28) equi-joined on the
    day — the classic habit-formation ratio, here with NO sliding
    distinct and no range join on either side
    (operators/cohorts.py:rolling_active_users twice; both frames are
    tiny day-grain curves). Days inside the MAU horizon but without
    same-day activity carry dau=0."""
    from tablecloth_time_spark.operators.cohorts import rolling_active_users

    ev = _t(spark, sf_dir, "events")
    dau = rolling_active_users(ev, "user_id", "ts", window=1).select(
        "day", F.col("active_users").alias("dau")
    )
    mau = rolling_active_users(ev, "user_id", "ts", window=28).select(
        "day", F.col("active_users").alias("mau")
    )
    out = mau.join(dau, "day", "left").select(
        "day",
        F.coalesce("dau", F.lit(0)).alias("dau"),
        "mau",
        F.round(
            F.coalesce("dau", F.lit(0)).cast("double") / F.col("mau"), 6
        ).alias("stickiness"),
    )
    return out


SQL_STICKINESS = """
WITH a AS (
  SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
  FROM events
),
g AS (
  SELECT DISTINCT dd AS day FROM (
    SELECT unnest(generate_series(d, d + INTERVAL 27 DAY, INTERVAL 1 DAY))
      AS dd
    FROM a
  )
),
mau AS (
  SELECT g.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS mau
  FROM g JOIN a ON a.d BETWEEN g.day - INTERVAL 27 DAY AND g.day
  GROUP BY 1
),
dau AS (
  SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM a GROUP BY 1
)
SELECT m.day,
       COALESCE(d.dau, 0) AS dau,
       m.mau,
       ROUND(CAST(COALESCE(d.dau, 0) AS DOUBLE) / CAST(m.mau AS DOUBLE), 6)
         AS stickiness
FROM mau m LEFT JOIN dau d USING (day)
"""


def q_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule-Walker forecasts of the daily event-count series per
    event type, 7 days ahead: coefficients from the closed-form
    Yule-Walker solution over the series' own autocorrelations (one
    window pass + one aggregate, the ACF plan class), recursion unrolled
    into chained expressions on the tiny per-key frame
    (operators/forecast.py:ar_forecast)."""
    from tablecloth_time_spark.operators.forecast import ar_forecast

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = ar_forecast(
        daily, "event_type", "day", "y", horizon=7, interval=1,
        unit="day", p=2,
    )
    return out.select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        "ts",
        F.round("forecast", 6).alias("forecast"),
    )


def _ar2_sql() -> str:
    # unroll d_h = f1*d_{h-1} + f2*d_{h-2} exactly as the engine chains it
    chain = ""
    inner = "yw"
    for h in range(1, 8):
        chain += (
            f", u{h} AS (SELECT *, f1 * "
            f"{'d0' if h == 1 else f'dh{h-1}'} + f2 * "
            f"{'dm1' if h == 1 else ('d0' if h == 2 else f'dh{h-2}')}"
            f" AS dh{h} FROM {inner})"
        )
        inner = f"u{h}"
    dhs = ", ".join(f"dh{h}" for h in range(1, 8))
    return f"""
WITH d AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, day, y,
         AVG(y) OVER (PARTITION BY event_type) AS mu,
         row_number() OVER (PARTITION BY event_type ORDER BY day DESC)
           AS rn
  FROM d
),
pr AS (
  SELECT event_type, mu, y, rn, day,
         (y - mu) * (y - mu) AS p0,
         (y - mu) * lag(y - mu, 1) OVER w AS p1,
         (y - mu) * lag(y - mu, 2) OVER w AS p2
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
a AS (
  SELECT event_type,
         COUNT(*) AS T, MAX(mu) AS mu, MAX(day) AS last_day,
         SUM(p0) AS denom, SUM(p1) AS n1, SUM(p2) AS n2,
         MAX(CASE WHEN rn = 1 THEN y END) AS y1,
         MAX(CASE WHEN rn = 2 THEN y END) AS y2
  FROM pr GROUP BY 1
),
yw AS (
  SELECT event_type, T, mu, last_day,
         (n1 / denom) * (1.0 - (n2 / denom))
           / (1.0 - (n1 / denom) * (n1 / denom)) AS f1,
         ((n2 / denom) - (n1 / denom) * (n1 / denom))
           / (1.0 - (n1 / denom) * (n1 / denom)) AS f2,
         y1 - mu AS d0, y2 - mu AS dm1
  FROM a
){chain}
SELECT event_type, CAST(h AS BIGINT) AS h,
       last_day + h * INTERVAL 1 DAY AS ts,
       ROUND(CASE WHEN T >= 4 THEN mu + dd END, 6) AS forecast
FROM (
  SELECT event_type, T, mu, last_day,
         unnest(generate_series(1, 7)) AS h,
         unnest([{dhs}]) AS dd
  FROM {inner}
)
"""


SQL_AR2_FORECAST = _ar2_sql()


def q_weekly_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct-active-user counts (WAU per day) — the
    interval-merge formulation: activity days become coverage spans
    [d, d+7), merged per user, exploded to days and SUMMED (a user's
    merged spans never overlap, so no COUNT DISTINCT and no range join
    ever touches a sliding window;
    operators/cohorts.py:rolling_active_users). The DuckDB oracle IS the
    naive trailing-window distinct count, proving the reformulation."""
    from tablecloth_time_spark.operators.cohorts import rolling_active_users

    ev = _t(spark, sf_dir, "events")
    return rolling_active_users(ev, "user_id", "ts", window=7)


SQL_WEEKLY_ACTIVE = """
WITH a AS (
  SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
  FROM events
),
g AS (
  SELECT DISTINCT dd AS day FROM (
    SELECT unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY))
      AS dd
    FROM a
  )
)
SELECT g.day,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM g JOIN a
  ON a.d BETWEEN g.day - INTERVAL 6 DAY AND g.day
GROUP BY 1
"""


def q_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-safe MoM/YoY growth of monthly revenue per return flag: each
    prior value comes from a RANGE frame pinned at exactly -k on the
    epoch-month index — a missing month yields NULL growth, never a
    silently misaligned row-lag comparison
    (operators/shift.py:growth_rates; one window sort shared by both
    offsets, no self-join)."""
    from tablecloth_time_spark.operators.shift import growth_rates

    li = _t(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_returnflag", F.date_trunc("month", "l_shipdate").alias("bucket")
    ).agg(F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    out = growth_rates(monthly, "l_returnflag", "bucket", "revenue")
    return out.select(
        "l_returnflag", "bucket", "revenue",
        F.round("mom_prev", 6).alias("mom_prev"),
        F.round("mom_growth", 6).alias("mom_growth"),
        F.round("yoy_prev", 6).alias("yoy_prev"),
        F.round("yoy_growth", 6).alias("yoy_growth"),
    )


SQL_GROWTH_RATES = """
WITH m AS (
  SELECT l_returnflag,
         date_trunc('month', CAST(l_shipdate AS TIMESTAMP)) AS bucket,
         ROUND(SUM(l_extendedprice), 2) AS revenue
  FROM lineitem GROUP BY 1, 2
),
i AS (
  SELECT l_returnflag, bucket, revenue,
         (EXTRACT(year FROM bucket) - 1970) * 12
           + EXTRACT(month FROM bucket) - 1 AS midx
  FROM m
)
SELECT l_returnflag, bucket, revenue,
       ROUND(mom_prev, 6) AS mom_prev,
       ROUND(CASE WHEN mom_prev <> 0
                  THEN (CAST(revenue AS DOUBLE) - mom_prev) / mom_prev
             END, 6) AS mom_growth,
       ROUND(yoy_prev, 6) AS yoy_prev,
       ROUND(CASE WHEN yoy_prev <> 0
                  THEN (CAST(revenue AS DOUBLE) - yoy_prev) / yoy_prev
             END, 6) AS yoy_growth
FROM (
  SELECT l_returnflag, bucket, revenue,
         FIRST(CAST(revenue AS DOUBLE)) OVER (
           PARTITION BY l_returnflag ORDER BY midx
           RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS mom_prev,
         FIRST(CAST(revenue AS DOUBLE)) OVER (
           PARTITION BY l_returnflag ORDER BY midx
           RANGE BETWEEN 12 PRECEDING AND 12 PRECEDING) AS yoy_prev
  FROM i
)
"""


def q_session_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical survival curve of session durations (30-min-gap
    sessions per user, 10-minute grid): the fraction of sessions
    lasting >= t, i.e. the "how long do conversations last" retention
    view. One bucket aggregate + windows over the tiny curve frame
    (operators/cohorts.py:survival_curve over
    operators/sessions.py:session_stats)."""
    from tablecloth_time_spark.operators.cohorts import survival_curve
    from tablecloth_time_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    sess = session_stats(
        ev, "user_id", "ts", 30, "minute", order_cols=["event_id"]
    ).select((F.col("duration_ms").cast("double") / 1000.0).alias("dur"))
    out = survival_curve(sess, "dur", step=600.0)
    return out.select(
        "t",
        "n_at_least",
        F.round("survival", 6).alias("survival"),
    )


SQL_SESSION_SURVIVAL = """
WITH so AS (
  SELECT user_id, ts, event_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         lag(epoch_ms(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
sg AS (
  SELECT user_id, ms,
         SUM(CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM so
),
sess AS (
  SELECT user_id, sid,
         CAST(MAX(ms) - MIN(ms) AS DOUBLE) / 1000.0 AS dur
  FROM sg GROUP BY 1, 2
),
b AS (
  SELECT CAST(FLOOR(dur / 600.0) AS BIGINT) AS bkt, COUNT(*) AS n
  FROM sess WHERE dur IS NOT NULL AND dur >= 0 GROUP BY 1
)
SELECT CAST(bkt AS DOUBLE) * 600.0 AS t,
       CAST(SUM(n) OVER (ORDER BY bkt
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         AS n_at_least,
       ROUND(CAST(SUM(n) OVER (ORDER BY bkt
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE)
             / CAST(SUM(n) OVER () AS DOUBLE), 6) AS survival
FROM b
"""


def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style histogram_quantile over the daily value-histogram
    tier per event type: quantiles recovered at read time from MERGEABLE
    histogram counts (the storable alternative to exact-percentile
    buffers and non-persistable sketches) by linear interpolation inside
    the target bin (operators/stats.py:histogram_quantile; one window +
    one aggregate over the tiny histogram frame)."""
    from tablecloth_time_spark.operators.stats import (
        histogram_quantile,
        histogram_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    hist = histogram_rollup(
        ev, ["event_type"], "ts", "value", 1, "day",
        lo=0.0, hi=200.0, n_bins=20,
    )
    out = histogram_quantile(hist, ["event_type", "bucket"])
    return out.select(
        "event_type", "bucket", "total",
        F.round("p50", 6).alias("p50"),
        F.round("p95", 6).alias("p95"),
        F.round("p99", 6).alias("p99"),
    )


SQL_HISTOGRAM_QUANTILE = """
WITH h AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
         CAST(LEAST(19, GREATEST(0, FLOOR((value - 0.0) / 10.0)))
           AS INTEGER) AS bin,
         COUNT(*) AS cnt
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2, 3
),
c AS (
  SELECT event_type, bucket, bin,
         CAST(cnt AS DOUBLE) AS n,
         0.0 + bin * 10.0 AS lo,
         0.0 + (bin + 1) * 10.0 AS hi,
         SUM(CAST(cnt AS DOUBLE)) OVER (
           PARTITION BY event_type, bucket ORDER BY bin
           ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(CAST(cnt AS DOUBLE)) OVER (
           PARTITION BY event_type, bucket) AS total
  FROM h
)
SELECT event_type, bucket, MAX(total) AS total,
       ROUND(min_by(LEAST(hi, GREATEST(lo,
               lo + (hi - lo) * ((0.5 * total - (cum - n)) / n))), bin)
             FILTER (WHERE cum >= 0.5 * total), 6) AS p50,
       ROUND(min_by(LEAST(hi, GREATEST(lo,
               lo + (hi - lo) * ((0.95 * total - (cum - n)) / n))), bin)
             FILTER (WHERE cum >= 0.95 * total), 6) AS p95,
       ROUND(min_by(LEAST(hi, GREATEST(lo,
               lo + (hi - lo) * ((0.99 * total - (cum - n)) / n))), bin)
             FILTER (WHERE cum >= 0.99 * total), 6) AS p99
FROM c GROUP BY 1, 2
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step conversion funnel (view -> click -> purchase) per
    user with a 72 h conversion window: step i counts only at/after the
    key's step i-1 time, so each step is its own pushed-down filtered
    scan + key equi-join + min aggregate — k small passes, no window
    over the fact table (operators/cohorts.py:funnel)."""
    from tablecloth_time_spark.operators.cohorts import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within=72, unit="hour",
    )


SQL_FUNNEL = """
WITH b AS (
  SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         event_type AS step
  FROM events
),
s1 AS (
  SELECT user_id, MIN(ms) AS ms1 FROM b WHERE step = 'view' GROUP BY 1
),
s2 AS (
  SELECT b.user_id, MIN(b.ms) AS ms2
  FROM b JOIN s1 USING (user_id)
  WHERE b.step = 'click' AND b.ms >= s1.ms1
    AND b.ms <= s1.ms1 + 259200000
  GROUP BY 1
),
s3 AS (
  SELECT b.user_id, MIN(b.ms) AS ms3
  FROM b JOIN s1 USING (user_id) JOIN s2 USING (user_id)
  WHERE b.step = 'purchase' AND b.ms >= s2.ms2
    AND b.ms <= s1.ms1 + 259200000
  GROUP BY 1
)
SELECT s1.user_id,
       make_timestamp(ms1 * 1000) AS ts_1,
       make_timestamp(ms2 * 1000) AS ts_2,
       make_timestamp(ms3 * 1000) AS ts_3,
       CAST(CAST(ms1 IS NOT NULL AS INTEGER)
            + CAST(ms2 IS NOT NULL AS INTEGER)
            + CAST(ms3 IS NOT NULL AS INTEGER) AS INTEGER)
         AS steps_completed,
       ms3 IS NOT NULL AS converted
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (Google SRE Workbook recipe)
    per user over events: trailing error ratio over a 30-minute and a
    4-hour RANGE frame, each divided by the error budget; a breach
    requires BOTH windows over threshold. Two range frames over ONE
    per-key sort — one Exchange (operators/counters.py:slo_burn_rate)."""
    from tablecloth_time_spark.operators.counters import slo_burn_rate

    ev = _t(spark, sf_dir, "events")
    marked = ev.select(
        "event_id", "user_id", "ts",
        (F.col("event_type") == "error").alias("err"),
    )
    out = slo_burn_rate(
        marked, "user_id", "ts", "err",
        slo=0.95, short=(30, "minute"), long=(4, "hour"), threshold=3.0,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.round("err_short", 6).alias("err_short"),
        F.round("err_long", 6).alias("err_long"),
        F.round("burn_short", 6).alias("burn_short"),
        F.round("burn_long", 6).alias("burn_long"),
        "is_breach",
    )


_SLO_BUDGET = 1.0 - 0.95  # the engine's float, inlined exactly (_dlit)

SQL_SLO_BURN = f"""
WITH o AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END AS e,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
  FROM events
),
w AS (
  SELECT event_id, user_id, ts,
         SUM(e) OVER ws / COUNT(e) OVER ws AS err_short,
         SUM(e) OVER wl / COUNT(e) OVER wl AS err_long
  FROM o
  WINDOW ws AS (PARTITION BY user_id ORDER BY ms
                RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW),
         wl AS (PARTITION BY user_id ORDER BY ms
                RANGE BETWEEN 14400000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts,
       ROUND(err_short, 6) AS err_short,
       ROUND(err_long, 6) AS err_long,
       ROUND(err_short / {{b}}, 6) AS burn_short,
       ROUND(err_long / {{b}}, 6) AS burn_long,
       (err_short / {{b}} > 3.0) AND (err_long / {{b}} > 3.0) AS is_breach
FROM w
""".format(b=_dlit(_SLO_BUDGET))


SQL_TURN_METRICS = """
WITH o AS (
  SELECT user_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         event_type AS role,
         length(props) AS chars,
         lag(event_type) OVER w AS prev_role,
         lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w AS prev_ms
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
r AS (
  SELECT user_id, ms, role, chars,
         CASE WHEN role = 'click' AND prev_role = 'view'
              THEN CAST(ms - prev_ms AS DOUBLE) / 1000.0 END AS resp_s
  FROM o
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(MAX(ms) - MIN(ms) AS DOUBLE) / 1000.0 AS duration_s,
       CAST(COUNT(CASE WHEN role = 'view' THEN 1 END) AS BIGINT)
         AS n_initiator,
       CAST(COUNT(CASE WHEN role = 'click' THEN 1 END) AS BIGINT)
         AS n_responder,
       CAST(COALESCE(SUM(CASE WHEN role = 'view' THEN chars END), 0)
         AS BIGINT) AS chars_initiator,
       CAST(COALESCE(SUM(CASE WHEN role = 'click' THEN chars END), 0)
         AS BIGINT) AS chars_responder,
       CAST(COUNT(resp_s) AS BIGINT) AS n_responses,
       ROUND(AVG(resp_s), 6) AS mean_response_s,
       ROUND(quantile_cont(resp_s, 0.95), 6) AS p95_response_s
FROM r GROUP BY user_id
"""


SQL_BENCHMARK_FORECAST = """
WITH d AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, COUNT(*) AS n, AVG(y) AS mean_y,
         arg_min(y, day) AS y_first, arg_max(y, day) AS y_last,
         MAX(day) AS last_day
  FROM d GROUP BY 1
),
hs AS (
  SELECT event_type, n, mean_y, y_first, y_last, last_day,
         unnest(generate_series(1, 14)) AS h
  FROM s
),
tail AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rnd
  FROM d
),
fc AS (
  SELECT event_type, 'mean' AS method, h, last_day + h * INTERVAL 1 DAY AS ts,
         ROUND(mean_y, 6) AS forecast
  FROM hs
  UNION ALL
  SELECT event_type, 'naive', h, last_day + h * INTERVAL 1 DAY,
         ROUND(y_last, 6)
  FROM hs
  UNION ALL
  SELECT event_type, 'drift', h, last_day + h * INTERVAL 1 DAY,
         -- parenthesized to match the engine's float association
         -- (slope first, then x h): last-ULP parity for the exact hash
         ROUND(y_last + h * ((y_last - y_first) / (n - 1)), 6)
  FROM hs
  UNION ALL
  SELECT hs.event_type, 'snaive', hs.h, hs.last_day + hs.h * INTERVAL 1 DAY,
         ROUND(t.y, 6)
  FROM hs JOIN tail t
    ON t.event_type = hs.event_type AND t.rnd = 7 - (hs.h - 1) % 7
  UNION ALL
  -- SES closed form: l_T = sum a*(1-a)^(rnd-1)*y, oldest row keeps the
  -- full initialization mass (1-a)^(n-1) (engine: forecast.py ses)
  SELECT hs.event_type, 'ses', hs.h, hs.last_day + hs.h * INTERVAL 1 DAY,
         ROUND(lv.l, 6)
  FROM hs JOIN (
    SELECT t.event_type,
           SUM(CASE WHEN t.rnd = s.n THEN POWER(0.7, s.n - 1) * t.y
                    ELSE 0.3 * POWER(0.7, t.rnd - 1) * t.y END) AS l
    FROM tail t JOIN s USING (event_type) GROUP BY 1
  ) lv ON lv.event_type = hs.event_type
),
-- fpp3 5.8 backtest: hold out each series' last 7 days, forecast from
-- the training prefix (mean/naive/drift), score vs the held-out actuals
rk AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rnd
  FROM d
),
train AS (SELECT event_type, day, y FROM rk WHERE rnd > 7),
ts_ AS (
  SELECT event_type, COUNT(*) AS n, AVG(y) AS mean_y,
         arg_min(y, day) AS y_first, arg_max(y, day) AS y_last,
         MAX(day) AS last_day
  FROM train GROUP BY 1
),
ths AS (
  SELECT event_type, n, mean_y, y_first, y_last, last_day,
         unnest(generate_series(1, 7)) AS h
  FROM ts_
),
bfc AS (
  SELECT event_type, 'mean' AS method, last_day + h * INTERVAL 1 DAY AS fts,
         mean_y AS fcv
  FROM ths
  UNION ALL
  SELECT event_type, 'naive', last_day + h * INTERVAL 1 DAY, y_last
  FROM ths
  UNION ALL
  SELECT event_type, 'drift', last_day + h * INTERVAL 1 DAY,
         CASE WHEN n >= 2
              THEN y_last + h * ((y_last - y_first) / (n - 1)) END
  FROM ths
),
terr AS (
  SELECT b.event_type, b.method, t.y - b.fcv AS e, t.y AS actual
  FROM bfc b JOIN d t ON t.event_type = b.event_type AND t.day = b.fts
),
errs AS (
  SELECT event_type, method,
         AVG(ABS(e)) AS mae,
         SQRT(AVG(e * e)) AS rmse,
         -- MAPE skips zero actuals (engine: try_divide -> NULL -> avg)
         AVG(CASE WHEN actual = 0 THEN NULL
                  ELSE ABS(100 * e / actual) END) AS mape
  FROM terr GROUP BY 1, 2
),
qd AS (
  SELECT event_type, AVG(ABS(dy)) AS q
  FROM (
    SELECT event_type,
           y - lag(y) OVER (PARTITION BY event_type ORDER BY day) AS dy
    FROM train
  ) GROUP BY 1
),
acc AS (
  SELECT e.event_type, e.method,
         ROUND(e.mae, 6) AS mae, ROUND(e.rmse, 6) AS rmse,
         ROUND(e.mape, 6) AS mape,
         ROUND(e.mae / NULLIF(qd.q, 0), 6) AS mase
  FROM errs e JOIN qd ON e.event_type = qd.event_type
)
SELECT fc.*, acc.mae, acc.rmse, acc.mape, acc.mase
FROM fc LEFT JOIN acc
  ON fc.event_type = acc.event_type AND fc.method = acc.method
"""


def q_suppress_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion re-delivery suppression: an event is a duplicate when the
    same (user, event_type, value) occurred within the previous 30 minutes
    — one lag window over key+fingerprint
    (operators/dedup.py:suppress_duplicate_events)."""
    from tablecloth_time_spark.operators.dedup import suppress_duplicate_events

    ev = _t(spark, sf_dir, "events")
    out = suppress_duplicate_events(
        ev.select("event_id", "user_id", "ts", "event_type", "value"),
        "user_id", "ts", ["event_type", "value"], 30, "minute",
        order_cols=["event_id"],
    )
    return out.select("event_id", "user_id", "ts", "is_duplicate")


SQL_SUPPRESS_DUPLICATES = """
WITH o AS (
  SELECT event_id, user_id, ts,
         epoch_ms(CAST(ts AS TIMESTAMP))
           - lag(epoch_ms(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY user_id, event_type, value
                   ORDER BY ts, event_id) AS gap_ms
  FROM events
)
SELECT event_id, user_id, ts,
       COALESCE(gap_ms <= 1800000, FALSE) AS is_duplicate
FROM o
"""


def q_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event duration-window features, two operators on one frame
    (r2's lag_time_1h + zscore_3h scored queries, folded to free a slot in
    the driver's 50-query budget):
    - value at least 1 h earlier for the same user (struct-max over a
      range frame — deterministic under timestamp ties, unlike last();
      operators/shift.py:add_lag_time);
    - rolling anomaly z-score over the trailing 3-hour window
      (operators/rolling.py composition), degenerate windows -> null."""
    from tablecloth_time_spark.operators.rolling import rolling
    from tablecloth_time_spark.operators.shift import add_lag_time

    ev = _t(spark, sf_dir, "events")
    out = add_lag_time(
        ev.select("event_id", "user_id", "ts", "value"),
        ["user_id"], "ts", "value", 1, "hour",
        order_cols=["event_id"], target="value_1h_ago",
    )
    out = rolling(
        out, ["user_id"], "ts", 3, "hour",
        {"mu": ("avg", "value"), "sd": ("stddev", "value"),
         "n": ("count", "value")},
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "value_1h_ago",
        F.round(
            F.when(
                (F.col("n") >= 2) & (F.col("sd") > 0),
                (F.col("value") - F.col("mu")) / F.col("sd"),
            ),
            6,
        ).alias("zscore"),
    )


SQL_WINDOW_FEATURES = """
WITH w AS (
  SELECT event_id, user_id, ts, value,
         (max(struct_pack(m := epoch_ms(CAST(ts AS TIMESTAMP)),
                          o0 := event_id, v := value))
            OVER (PARTITION BY user_id
                  ORDER BY epoch_ms(CAST(ts AS TIMESTAMP))
                  RANGE BETWEEN UNBOUNDED PRECEDING AND 3600000 PRECEDING)).v
           AS value_1h_ago,
         avg(value) OVER win AS mu,
         stddev_samp(value) OVER win AS sd,
         COUNT(value) OVER win AS n
  FROM events
  WINDOW win AS (PARTITION BY user_id
                 ORDER BY epoch_ms(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 10800000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, value, value_1h_ago,
       ROUND(CASE WHEN n >= 2 AND sd > 0 THEN (value - mu) / sd END, 6)
         AS zscore
FROM w
"""


def q_level_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint scoring: two-sided moving-average difference filter
    (mean of next 6 values minus mean of previous 6, normalized by the
    pooled stddev) per user series — the embarrassingly-parallel member of
    the changepoint family; CUSUM/PELT are sequential and would need the
    Arrow kernel (operators/stats.py:level_shift_scores)."""
    from tablecloth_time_spark.operators.stats import level_shift_scores

    ev = _t(spark, sf_dir, "events")
    out = level_shift_scores(
        ev.select("event_id", "user_id", "ts", "value"),
        ["user_id"], "ts", "value", window=6, order_cols=["event_id"],
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.round("shift", 6).alias("shift"),
        F.round("shift_score", 6).alias("shift_score"),
    )


SQL_LEVEL_SHIFTS = """
WITH w AS (
  SELECT event_id, user_id, ts,
         COUNT(value) OVER wb AS n_b, COUNT(value) OVER wa AS n_a,
         AVG(value) OVER wb AS mu_b, AVG(value) OVER wa AS mu_a,
         var_samp(value) OVER wb AS var_b, var_samp(value) OVER wa AS var_a
  FROM events
  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING),
         wa AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING)
)
SELECT event_id, user_id, ts,
       ROUND(CASE WHEN n_b = 6 AND n_a = 6 THEN mu_a - mu_b END, 6) AS shift,
       ROUND(CASE WHEN n_b = 6 AND n_a = 6
                   AND sqrt((var_b + var_a) / 2) > 0
                  THEN (mu_a - mu_b) / sqrt((var_b + var_a) / 2) END, 6)
         AS shift_score
FROM w
"""


def q_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly scoring: Iglewicz & Hoaglin modified z-score
    0.6745*(x - median)/MAD per event type, flagged at |score| > 3.5 —
    median/MAD resist the outliers a mean/stddev z-score absorbs. Two
    tiny per-key median aggregates broadcast back; the events table is
    scanned, never shuffled (operators/stats.py:mad_anomalies)."""
    from tablecloth_time_spark.operators.stats import mad_anomalies

    ev = _t(spark, sf_dir, "events")
    out = mad_anomalies(
        ev.select("event_id", "event_type", "value"),
        ["event_type"], "value", threshold=3.5,
    )
    return out.select(
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.round("score", 6).alias("score"),
        "is_anomaly",
    )


SQL_MAD_ANOMALIES = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
),
m2 AS (
  SELECT e.event_type, median(ABS(e.value - med.med)) AS mad
  FROM events e JOIN med USING (event_type) GROUP BY 1
),
scored AS (
  SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS value,
         CASE WHEN m2.mad IS NOT NULL AND m2.mad <> 0
              THEN 0.6745 * (e.value - med.med) / m2.mad END AS s
  FROM events e
  JOIN med USING (event_type)
  JOIN m2 USING (event_type)
)
SELECT event_id, event_type, value,
       ROUND(s, 6) AS score,
       COALESCE(ABS(s) > 3.5, FALSE) AS is_anomaly
FROM scored
"""


def q_bollinger_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling technical indicators per event type — 20-row Bollinger
    bands (mid/upper/lower, %B, bandwidth) and 14-diff Cutler RSI over
    the value series ordered by (ts, event_id). Both are compositions of
    the archived rolling-row-window aggregates (reference
    development-plan.md:645-666) and share ONE Exchange + one sorted pass
    (operators/indicators.py; plan pinned in tests)."""
    from tablecloth_time_spark.operators.indicators import (
        bollinger_bands,
        rsi_cutler,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    order = ["ts", "event_id"]
    out = rsi_cutler(
        bollinger_bands(ev, ["event_type"], order, "value", n=20, k=2.0),
        ["event_type"], order, "value", n=14,
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("mid", 6).alias("mid"),
        F.round("upper", 6).alias("upper"),
        F.round("lower", 6).alias("lower"),
        F.round("pct_b", 6).alias("pct_b"),
        F.round("bandwidth", 6).alias("bandwidth"),
        F.round("rsi", 6).alias("rsi"),
    )


SQL_BOLLINGER_RSI = """
WITH b AS (
  SELECT event_id, event_type, ts, CAST(value AS DOUBLE) AS v,
         CASE WHEN COUNT(value) OVER w20 >= 20
              THEN AVG(value) OVER w20 END AS mid,
         CASE WHEN COUNT(value) OVER w20 >= 20
              THEN stddev_samp(value) OVER w20 END AS sd,
         CAST(value AS DOUBLE)
           - lag(CAST(value AS DOUBLE)) OVER wo AS diff
  FROM events
  WINDOW wo AS (PARTITION BY event_type ORDER BY ts, event_id),
         w20 AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
r AS (
  SELECT *,
         CASE WHEN COUNT(g) OVER w14 >= 14 THEN AVG(g) OVER w14 END AS ag,
         CASE WHEN COUNT(l) OVER w14 >= 14 THEN AVG(l) OVER w14 END AS al
  FROM (
    SELECT *,
           CASE WHEN diff > 0 THEN diff
                WHEN diff IS NOT NULL THEN 0.0 END AS g,
           CASE WHEN diff < 0 THEN -diff
                WHEN diff IS NOT NULL THEN 0.0 END AS l
    FROM b
  )
  WINDOW w14 AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type,
       ROUND(mid, 6) AS mid,
       ROUND(u, 6) AS upper,
       ROUND(lo, 6) AS lower,
       ROUND(CASE WHEN u - lo <> 0 THEN (v - lo) / (u - lo) END, 6) AS pct_b,
       ROUND(CASE WHEN mid <> 0 THEN (u - lo) / mid END, 6) AS bandwidth,
       ROUND(CASE WHEN ag + al <> 0
                  THEN 100.0 * (ag / (ag + al)) END, 6) AS rsi
FROM (
  SELECT *, mid + 2.0 * sd AS u, mid - 2.0 * sd AS lo FROM r
)
"""


def q_ewma_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-index EMA (pandas ewm(alpha=0.5, adjust=True) parity) of each
    event type's value stream — the segment-anchored prefix-sum plan:
    one Exchange, sorted window passes, no Python
    (operators/counters.py:ewma_rows). alpha=0.5 makes every weight an
    exact power of two, so the DuckDB oracle re-derives the ENTIRE
    segmented computation (row positions, 150-row segments, per-segment
    prefix sums, two-hop closed-segment carries) bit-for-bit."""
    from tablecloth_time_spark.operators.counters import ewma_rows

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    out = ewma_rows(
        ev, "event_type", ["ts", "event_id"], "value", alpha=0.5
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("ewma", 6).alias("ewma"),
    )


# S = 150 must match ewma_rows' segment derivation for alpha=0.5:
# floor(150*ln2 / -ln(0.5)) = 150. The oracle mirrors the operator's
# exact arithmetic: w = (1/b)^local = pow(2.0, local), closes carry
# (seg, num, den) structs, hops rescale by pow(0.5, gap*150).
SQL_EWMA_ROWS = """
WITH base AS (
  SELECT event_id, event_type, ts, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
           - 1 AS pos
  FROM events
),
stepped AS (
  SELECT *, pos // 150 AS seg,
         pow(2.0, CAST(pos % 150 AS DOUBLE)) AS w
  FROM base
),
masked AS (
  SELECT *,
         CASE WHEN x IS NOT NULL AND NOT isnan(x) THEN w * x END AS wx,
         CASE WHEN x IS NOT NULL AND NOT isnan(x) THEN w END AS wd
  FROM stepped
),
pfx AS (
  SELECT *,
         SUM(wx) OVER wp AS numpfx,
         SUM(wd) OVER wp AS denpfx,
         CASE WHEN lead(seg) OVER wo IS NULL OR lead(seg) OVER wo <> seg
              THEN struct_pack(
                     s := seg,
                     n := COALESCE(SUM(wx) OVER wsg, 0.0),
                     d := COALESCE(SUM(wd) OVER wsg, 0.0)
                   ) END AS cl
  FROM masked
  WINDOW wo AS (PARTITION BY event_type ORDER BY seg, ts, event_id),
         wp AS (PARTITION BY event_type, seg ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wsg AS (PARTITION BY event_type, seg)
),
p1 AS (
  SELECT *,
         last_value(cl IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY seg, ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
  FROM pfx
),
c2 AS (
  SELECT *,
         CASE WHEN cl IS NOT NULL
              THEN struct_pack(c1 := cl, c0 := prev) END AS cl2
  FROM p1
),
carried AS (
  SELECT *,
         last_value(cl2 IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY seg, ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev2
  FROM c2
),
hopped AS (
  SELECT *,
         struct_extract(struct_extract(prev2, 'c1'), 'n')
           * pow(0.5, CAST(seg - struct_extract(struct_extract(prev2, 'c1'), 's')
                      AS DOUBLE) * 150.0) AS n1,
         struct_extract(struct_extract(prev2, 'c1'), 'd')
           * pow(0.5, CAST(seg - struct_extract(struct_extract(prev2, 'c1'), 's')
                      AS DOUBLE) * 150.0) AS d1,
         struct_extract(struct_extract(prev2, 'c0'), 'n')
           * pow(0.5, CAST(seg - struct_extract(struct_extract(prev2, 'c0'), 's')
                      AS DOUBLE) * 150.0) AS n0,
         struct_extract(struct_extract(prev2, 'c0'), 'd')
           * pow(0.5, CAST(seg - struct_extract(struct_extract(prev2, 'c0'), 's')
                      AS DOUBLE) * 150.0) AS d0
  FROM carried
)
SELECT event_id, event_type,
       ROUND(CASE WHEN COALESCE(denpfx, 0.0) + COALESCE(d1, 0.0)
                       + COALESCE(d0, 0.0) > 0.0
                  THEN (COALESCE(numpfx, 0.0) + COALESCE(n1, 0.0)
                        + COALESCE(n0, 0.0))
                       / (COALESCE(denpfx, 0.0) + COALESCE(d1, 0.0)
                          + COALESCE(d0, 0.0)) END, 6) AS ewma
FROM hopped
"""


def q_pelt_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PELT optimal changepoint detection over a deterministic synthetic
    benchmark (media_features precedent: generator contract replayable
    outside Spark). Three 400-point series with md5-derived noise — every
    construction op is exact or identically-rounded IEEE double, so the
    series bits match the offline recomputation — and the pinned golden
    comes from the EXHAUSTIVE O(n^2) optimal-partitioning DP
    (scripts/gen_pelt_oracle.py), so this row also re-proves the pruning's
    exactness end-to-end (operators/changepoint.py:pelt_changepoints)."""
    from tablecloth_time_spark.operators.changepoint import pelt_changepoints

    keys = ["stable", "step", "multi"]
    base = spark.range(400).select(
        F.col("id").cast("int").alias("i"),
        F.explode(F.array(*[F.lit(k) for k in keys])).alias("k"),
    )
    i, k = F.col("i"), F.col("k")
    mean = (
        F.when(k == "stable", F.lit(5.0))
        .when(k == "step", F.when(i < 150, F.lit(0.0)).otherwise(F.lit(6.0)))
        .otherwise(
            F.when(i < 120, F.lit(0.0))
            .when(i < 260, F.lit(6.0))
            .otherwise(F.lit(2.0))
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(k, F.lit(":"), i.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    noise = (h / F.lit(4294967296.0) - F.lit(0.5)) * F.lit(2.0)
    ts = F.timestamp_millis(
        F.lit(1_704_067_200_000) + i.cast("bigint") * F.lit(60_000)
    )
    df = base.select(k.alias("k"), ts.alias("ts"), (mean + noise).alias("x"))
    out = pelt_changepoints(df, "k", "ts", "x", penalty=30.0, min_size=2)
    return out.select(
        "k",
        "cp_index",
        "cp_ts",
        "n",
        F.round("mean_before", 6).alias("mean_before"),
        F.round("mean_after", 6).alias("mean_after"),
    )


# pinned golden from the exhaustive optimal-partitioning DP (NOT the PELT
# implementation) over the same md5-noise series — regenerate with
# scripts/gen_pelt_oracle.py whenever the synthetic contract changes
SQL_PELT_SYNTHETIC = """
SELECT k, CAST(cp_index AS INTEGER) AS cp_index,
       make_timestamp(ts_ms * 1000) AS cp_ts,
       CAST(n AS INTEGER) AS n,
       CAST(mean_before AS DOUBLE) AS mean_before,
       CAST(mean_after AS DOUBLE) AS mean_after
FROM (VALUES
  ('step', 150, 1704076200000, 400, 0.008037, 5.984492),
  ('multi', 120, 1704074400000, 400, -0.088263, 5.946112),
  ('multi', 260, 1704082800000, 400, 5.946112, 1.929799)
) AS t(k, cp_index, ts_ms, n, mean_before, mean_after)
"""


_HW_SEAS = {
    "retail": [4.0, 2.5, -1.5, -3.0, 0.5, -2.0, -0.5],
    "traffic": [-6.0, 1.0, 2.5, 3.0, 2.0, 0.5, -3.0],
}


def q_hw_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal forecasts over two deterministic
    84-day trend+season+md5-noise series (construction ops exact in IEEE
    double — the gen_pelt_oracle noise contract). The pinned golden is an
    INDEPENDENT scalar re-derivation of the documented classical
    convention (scripts/gen_hw_oracle.py), so the driver row checks the
    kernel's recurrence itself, not just reproducibility
    (operators/forecast.py:holt_winters_forecast)."""
    from tablecloth_time_spark.operators.forecast import holt_winters_forecast

    base = spark.range(84).select(
        F.col("id").cast("int").alias("i"),
        F.explode(F.array(F.lit("retail"), F.lit("traffic"))).alias("k"),
    )
    i, k = F.col("i"), F.col("k")
    seas = F.when(
        k == "retail",
        F.element_at(
            F.array(*[F.lit(v) for v in _HW_SEAS["retail"]]),
            F.pmod(i, F.lit(7)) + F.lit(1),
        ),
    ).otherwise(
        F.element_at(
            F.array(*[F.lit(v) for v in _HW_SEAS["traffic"]]),
            F.pmod(i, F.lit(7)) + F.lit(1),
        )
    )
    h = F.conv(
        F.substring(F.md5(F.concat(k, F.lit(":"), i.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    noise = (h / F.lit(4294967296.0) - F.lit(0.5)) * F.lit(2.0)
    y = (F.lit(20.0) + F.lit(0.25) * i.cast("double") + seas) + noise
    ts = F.timestamp_millis(
        F.lit(1_704_067_200_000) + i.cast("bigint") * F.lit(86_400_000)
    )
    df = base.select(k.alias("k"), ts.alias("ts"), y.alias("y"))
    out = holt_winters_forecast(
        df, "k", "ts", "y", 14, 1, "day", 7, alpha=0.4, beta=0.2, gamma=0.3
    )
    return out.select(
        "k", "method", "h", "ts", F.round("forecast", 6).alias("forecast")
    )


# pinned golden from an independent scalar Holt-Winters implementation —
# regenerate with scripts/gen_hw_oracle.py when the contract changes
SQL_HW_SYNTHETIC = """
SELECT k, 'holt_winters' AS method, CAST(h AS INTEGER) AS h,
       make_timestamp(ts_ms * 1000) AS ts,
       CAST(forecast AS DOUBLE) AS forecast
FROM (VALUES
  ('retail', 1, 1711324800000, 44.202358),
  ('retail', 2, 1711411200000, 43.083764),
  ('retail', 3, 1711497600000, 39.77754),
  ('retail', 4, 1711584000000, 38.436062),
  ('retail', 5, 1711670400000, 42.121759),
  ('retail', 6, 1711756800000, 39.493218),
  ('retail', 7, 1711843200000, 41.239428),
  ('retail', 8, 1711929600000, 45.506811),
  ('retail', 9, 1712016000000, 44.388217),
  ('retail', 10, 1712102400000, 41.081992),
  ('retail', 11, 1712188800000, 39.740514),
  ('retail', 12, 1712275200000, 43.426212),
  ('retail', 13, 1712361600000, 40.797671),
  ('retail', 14, 1712448000000, 42.543881),
  ('traffic', 1, 1711324800000, 33.964043),
  ('traffic', 2, 1711411200000, 41.372673),
  ('traffic', 3, 1711497600000, 43.443188),
  ('traffic', 4, 1711584000000, 43.76603),
  ('traffic', 5, 1711670400000, 42.198119),
  ('traffic', 6, 1711756800000, 41.885803),
  ('traffic', 7, 1711843200000, 38.00042),
  ('traffic', 8, 1711929600000, 34.859986),
  ('traffic', 9, 1712016000000, 42.268616),
  ('traffic', 10, 1712102400000, 44.339131),
  ('traffic', 11, 1712188800000, 44.661972),
  ('traffic', 12, 1712275200000, 43.094061),
  ('traffic', 13, 1712361600000, 42.781746),
  ('traffic', 14, 1712448000000, 38.896363)
) AS t(k, h, ts_ms, forecast)
"""


def q_profile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day data-quality profile of the events feed (value + user_id):
    row count, nulls, NaNs, finite min/max/mean, exact distinct — the
    ingest-hygiene monitor. One mergeable hash aggregate per bucket
    (exact distinct adds the standard multi-distinct Expand; the 100 TB
    default is the approx HLL form, exact here because the oracle is)
    (operators/profile.py:profile_rollup)."""
    from tablecloth_time_spark.operators.profile import profile_rollup

    ev = _t(spark, sf_dir, "events")
    out = profile_rollup(
        ev, "ts", ["value", "user_id"], 1, "day", exact=True
    )
    return out.select(
        "bucket",
        "n",
        "column",
        "n_null",
        "n_nan",
        F.col("min").alias("vmin"),
        F.col("max").alias("vmax"),
        F.round("mean", 6).alias("mean"),
        "n_distinct",
    )


SQL_PROFILE_ROLLUP = """
WITH b AS (
  SELECT date_trunc('day', ts) AS bucket, value, user_id,
         CAST(value AS DOUBLE) AS dv, CAST(user_id AS DOUBLE) AS du
  FROM events
),
v AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, 'value' AS "column",
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(SUM(CASE WHEN value IS NOT NULL AND isnan(dv)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
         MIN(CASE WHEN dv IS NOT NULL AND NOT isnan(dv) THEN dv END) AS vmin,
         MAX(CASE WHEN dv IS NOT NULL AND NOT isnan(dv) THEN dv END) AS vmax,
         ROUND(SUM(CASE WHEN dv IS NOT NULL AND NOT isnan(dv) THEN dv END)
               / CAST(COUNT(CASE WHEN dv IS NOT NULL AND NOT isnan(dv)
                            THEN dv END) AS DOUBLE), 6) AS mean,
         CAST(COUNT(DISTINCT value) AS BIGINT) AS n_distinct
  FROM b GROUP BY 1
),
u AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, 'user_id' AS "column",
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(SUM(CASE WHEN user_id IS NOT NULL AND isnan(du)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
         MIN(CASE WHEN du IS NOT NULL AND NOT isnan(du) THEN du END) AS vmin,
         MAX(CASE WHEN du IS NOT NULL AND NOT isnan(du) THEN du END) AS vmax,
         ROUND(SUM(CASE WHEN du IS NOT NULL AND NOT isnan(du) THEN du END)
               / CAST(COUNT(CASE WHEN du IS NOT NULL AND NOT isnan(du)
                            THEN du END) AS DOUBLE), 6) AS mean,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
  FROM b GROUP BY 1
)
SELECT * FROM v UNION ALL SELECT * FROM u
"""


def q_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window rollup — 1-hour windows every 15 minutes
    per event type (Flink HOP semantics; each sample lands in 4 windows).
    Delegates to native F.window(ts, width, hop): a static Expand of 4
    pure projections (no Generate/array alloc) into ONE map-side-combined
    hash aggregate (operators/rollup.py:hopping_rollup)."""
    from tablecloth_time_spark.operators.rollup import hopping_rollup

    ev = _t(spark, sf_dir, "events")
    out = hopping_rollup(
        ev, ["event_type"], "ts", 60, 15, "minute",
        {"n": ("count", "event_id"), "sum_value": ("sum", "value")},
    )
    return out.select(
        "event_type",
        "window_start",
        "window_end",
        "n",
        F.round("sum_value", 6).alias("sum_value"),
    )


SQL_HOPPING_ROLLUP = """
WITH base AS (
  SELECT event_type, event_id, value,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
  FROM events
),
bounds AS (
  -- epoch ms are positive here, so % == pmod; starts s with
  -- s <= t < s + width  <=>  t - width < s <= t, hop-aligned
  SELECT *,
         ms - ms % 900000 AS s_max,
         (ms - 3600000) - (ms - 3600000) % 900000 + 900000 AS s_min
  FROM base
),
exploded AS (
  SELECT event_type, event_id, value,
         unnest(generate_series(s_min, s_max, 900000)) AS ws
  FROM bounds
  WHERE s_min <= s_max
)
SELECT event_type,
       make_timestamp(ws * 1000) AS window_start,
       make_timestamp((ws + 3600000) * 1000) AS window_end,
       CAST(COUNT(event_id) AS BIGINT) AS n,
       ROUND(SUM(value), 6) AS sum_value
FROM exploded
GROUP BY 1, 2, 3
"""


def q_rolling_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median + p90 over a trailing 9-row frame per user —
    the despiking robust baseline. Spark's percentile aggregates reject
    window frames, so the operator sorts the frame's values per row and
    interpolates explicitly; the DuckDB oracle mirrors the identical
    arithmetic (list window + list_sort + the same lo/frac formula)
    instead of trusting quantile_cont internals
    (operators/rolling.py:rolling_quantiles)."""
    from tablecloth_time_spark.operators.rolling import rolling_quantiles

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = rolling_quantiles(
        ev, ["user_id"], ["ts", "event_id"], "value", 9,
        {"med": 0.5, "p90": 0.9},
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("med", 6).alias("med"),
        F.round("p90", 6).alias("p90"),
    )


SQL_ROLLING_QUANTILES = """
WITH arrs AS (
  SELECT event_id, user_id,
         list_sort(list_filter(
           list(CAST(value AS DOUBLE)) OVER w,
           y -> y IS NOT NULL AND NOT isnan(y)
         )) AS arr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
),
p AS (
  SELECT event_id, user_id, arr, len(arr) AS m FROM arrs
)
SELECT event_id, user_id,
       ROUND(CASE WHEN m >= 1 THEN
         arr[CAST(FLOOR(CAST('0.5' AS DOUBLE) * CAST(m - 1 AS DOUBLE)) AS INTEGER) + 1]
         + (arr[LEAST(CAST(FLOOR(CAST('0.5' AS DOUBLE) * CAST(m - 1 AS DOUBLE)) AS INTEGER) + 2, m)]
            - arr[CAST(FLOOR(CAST('0.5' AS DOUBLE) * CAST(m - 1 AS DOUBLE)) AS INTEGER) + 1])
           * (CAST('0.5' AS DOUBLE) * CAST(m - 1 AS DOUBLE)
              - CAST(FLOOR(CAST('0.5' AS DOUBLE) * CAST(m - 1 AS DOUBLE)) AS INTEGER))
       END, 6) AS med,
       ROUND(CASE WHEN m >= 1 THEN
         arr[CAST(FLOOR(CAST('0.9' AS DOUBLE) * CAST(m - 1 AS DOUBLE)) AS INTEGER) + 1]
         + (arr[LEAST(CAST(FLOOR(CAST('0.9' AS DOUBLE) * CAST(m - 1 AS DOUBLE)) AS INTEGER) + 2, m)]
            - arr[CAST(FLOOR(CAST('0.9' AS DOUBLE) * CAST(m - 1 AS DOUBLE)) AS INTEGER) + 1])
           * (CAST('0.9' AS DOUBLE) * CAST(m - 1 AS DOUBLE)
              - CAST(FLOOR(CAST('0.9' AS DOUBLE) * CAST(m - 1 AS DOUBLE)) AS INTEGER))
       END, 6) AS p90
FROM p
"""


def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-seasonality detection: Schuster periodogram power of each
    event type's hourly count series at candidate periods 24h / 96h /
    168h — ONE mergeable hash aggregate (4 sums per candidate period),
    the rollup plan class; the phase is reduced with exact integer
    arithmetic before the trig call so both engines evaluate identical
    small arguments (operators/spectral.py)."""
    from tablecloth_time_spark.operators.spectral import periodogram

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    out = periodogram(hourly, "event_type", "h", "y", [24, 96, 168], "hour")
    return out.select(
        "event_type",
        "period",
        "n",
        F.round("amp", 6).alias("amp"),
        F.round("power_frac", 6).alias("power_frac"),
    )


SQL_PERIODOGRAM = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
terms AS (
  SELECT event_type, p.period, y,
         6.283185307179586
           * (CAST(epoch_ms(h) % (p.period * 3600000) AS DOUBLE)
              / CAST(p.period * 3600000 AS DOUBLE)) AS ang
  FROM hourly CROSS JOIN (VALUES (24), (96), (168)) AS p(period)
),
s AS (
  SELECT event_type, period,
         COUNT(y) AS n,
         SUM(y) AS sx, SUM(y * y) AS sxx,
         SUM(cos(ang)) AS sc, SUM(sin(ang)) AS ss,
         SUM(y * cos(ang)) AS sxc, SUM(y * sin(ang)) AS sxs
  FROM terms GROUP BY 1, 2
),
d AS (
  SELECT event_type, period, n,
         CAST(n AS DOUBLE) AS nd,
         sxc - (sx / CAST(n AS DOUBLE)) * sc AS a,
         sxs - (sx / CAST(n AS DOUBLE)) * ss AS b,
         sxx - sx * (sx / CAST(n AS DOUBLE)) AS sst
  FROM s
)
SELECT event_type,
       CAST(period AS BIGINT) AS period,
       CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN n >= 2
                  THEN 2.0 * sqrt(a * a + b * b) / nd END, 6) AS amp,
       ROUND(CASE WHEN n >= 2 AND sst > 0
                  THEN 2.0 * (a * a + b * b) / nd / sst END, 6)
         AS power_frac
FROM d
"""


def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly scoring — the composition a monitoring
    user actually wants: classical decomposition removes trend +
    day-of-week effects first, THEN the robust modified z-score (Iglewicz
    & Hoaglin, |0.6745*(r - median)/MAD| > 3.5) runs on the remainder, so
    a busy-Monday spike isn't an anomaly but the same count on a Sunday
    is. Both components are independently oracled queries
    (seasonal_decompose, mad_anomalies); this pins their composition.
    Scoring uses the ROUNDED remainder and the flag uses the ROUNDED
    score on both engines — medians of near-equal doubles and a
    threshold-boundary comparison are exactly the places cross-engine
    last-ULP noise could flip a row. Plan: one window pass + broadcast
    seasonal join (decompose) + two tiny per-key median aggregates
    broadcast back — the events table never shuffles."""
    from tablecloth_time_spark.operators.decompose import (
        classical_decomposition,
    )
    from tablecloth_time_spark.operators.stats import mad_anomalies

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    dec = classical_decomposition(
        daily, ["event_type"], "day", "y", 7, season_col=F.dayofweek("day")
    )
    rem = dec.filter(F.col("trend").isNotNull()).select(
        "event_type",
        "day",
        F.col("y").cast("long").alias("n_events"),
        F.round("remainder", 6).alias("r"),
    )
    scored = mad_anomalies(rem, ["event_type"], "r", threshold=3.5)
    s6 = F.round("score", 6)
    return scored.select(
        "event_type",
        "day",
        "n_events",
        F.col("r").alias("remainder"),
        s6.alias("score"),
        F.coalesce(F.abs(s6) > F.lit(3.5), F.lit(False)).alias("is_anomaly"),
    )


SQL_SEASONAL_ANOMALIES = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, day, y,
         CASE WHEN COUNT(*) OVER w = 7 THEN AVG(y) OVER w END AS trend,
         dayofweek(day) AS season
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
s AS (
  SELECT event_type, season, AVG(y - trend) AS s_raw
  FROM t GROUP BY 1, 2
),
adj AS (SELECT event_type, AVG(s_raw) AS s_adj FROM s GROUP BY 1),
si AS (
  SELECT s.event_type, s.season, s.s_raw - adj.s_adj AS seasonal
  FROM s JOIN adj USING (event_type)
),
rem AS (
  SELECT t.event_type, t.day, CAST(t.y AS BIGINT) AS n_events,
         ROUND(t.y - t.trend - si.seasonal, 6) AS r
  FROM t JOIN si ON t.event_type = si.event_type AND t.season = si.season
  WHERE t.trend IS NOT NULL
),
med AS (SELECT event_type, median(r) AS med FROM rem GROUP BY 1),
m2 AS (
  SELECT rem.event_type, median(ABS(rem.r - med.med)) AS mad
  FROM rem JOIN med USING (event_type) GROUP BY 1
),
scored AS (
  SELECT rem.event_type, rem.day, rem.n_events, rem.r,
         ROUND(CASE WHEN m2.mad IS NOT NULL AND m2.mad <> 0
                    THEN 0.6745 * (rem.r - med.med) / m2.mad END, 6) AS s
  FROM rem
  JOIN med USING (event_type)
  JOIN m2 USING (event_type)
)
SELECT event_type, day, n_events, r AS remainder,
       s AS score,
       COALESCE(ABS(s) > 3.5, FALSE) AS is_anomaly
FROM scored
"""


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM drift scores (Page 1954) of each event
    type's value stream, k=0.5 / h=5. The clipped recurrence S+_t =
    max(0, S+_{t-1} + z_t - k) is computed WITHOUT recurrence via the
    prefix-algebra identity S+_t = P_t - min(0, running_min(P)) — one
    cumulative sum + one running min per side over a single per-key sort
    (operators/stats.py:cusum_scores)."""
    from tablecloth_time_spark.operators.stats import cusum_scores

    ev = _t(spark, sf_dir, "events")
    out = cusum_scores(
        ev.select("event_id", "event_type", "ts", "value"),
        ["event_type"], "ts", "value",
        k=0.5, h=5.0, order_cols=["event_id"],
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("cusum_pos", 6).alias("cusum_pos"),
        F.round("cusum_neg", 6).alias("cusum_neg"),
        "is_drift",
    )


SQL_CUSUM_DRIFT = """
WITH s AS (
  SELECT event_type, AVG(CAST(value AS DOUBLE)) AS mu,
         stddev_samp(CAST(value AS DOUBLE)) AS sd
  FROM events GROUP BY 1
),
z AS (
  SELECT e.event_id, e.event_type, CAST(e.ts AS TIMESTAMP) AS ts,
         CASE WHEN s.sd > 0
              THEN (CAST(e.value AS DOUBLE) - s.mu) / s.sd END AS z
  FROM events e JOIN s USING (event_type)
),
-- prefix sums of (z - k) and (-z - k) in stream order
p AS (
  SELECT event_id, event_type, ts,
         SUM(z - 0.5) OVER w AS pp,
         SUM(-z - 0.5) OVER w AS pn
  FROM z
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
-- Page's clip via the running-min identity (engine derivation:
-- operators/stats.py:cusum_scores docstring); same stream order
c AS (
  SELECT event_id, event_type,
         pp - LEAST(0.0, MIN(pp) OVER w2) AS sp,
         pn - LEAST(0.0, MIN(pn) OVER w2) AS sn
  FROM p
  WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type,
       ROUND(sp, 6) AS cusum_pos,
       ROUND(sn, 6) AS cusum_neg,
       COALESCE(sp > 5.0 OR sn > 5.0, FALSE) AS is_drift
FROM c
"""


def q_continuous_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star continuous aggregate, oracle-checked end-to-end: the
    events table arrives as THREE snapshot increments; each triggers an
    incremental refresh (dirty-partition stage-and-swap through the
    TierStore seam, plans/continuous.py). The final hour tier must equal
    the plain one-shot SQL rollup of everything — the driver-level proof
    that incremental maintenance is exact."""
    import atexit
    import shutil
    import tempfile

    from tablecloth_time_spark.plans.continuous import (
        ContinuousAggregate,
        TierSpec,
    )
    from tablecloth_time_spark.plans.snapshots import SnapshotTable

    ev = _t(spark, sf_dir, "events")
    # Fixed workdir cleared on entry (the returned DataFrame lazily reads
    # the tier files, so we cannot delete before the driver collects);
    # atexit sweeps it at process end. Bench re-runs reuse one dir instead
    # of leaking a fresh mkdtemp per invocation.
    root = os.path.join(tempfile.gettempdir(), "tts_cont_workdir")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src = SnapshotTable(spark, f"{root}/src")
    ca = ContinuousAggregate(
        spark,
        src,
        f"{root}/tiers",
        keys=["user_id"],
        ts_col="ts",
        aggs={"n": ("count", "event_id"), "s": ("sum", "value")},
        tiers=(TierSpec("hour", 1, "hour"),),
        order_cols=["ts", "event_id"],
    )
    for lo, hi in ((0, 3000), (3000, 7000), (7000, 1 << 62)):
        src.append(ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)))
        ca.refresh()
    out = ca.read_tier("hour")
    return out.select(
        "user_id", "bucket", "n", F.round("s", 6).alias("s")
    )


SQL_CONTINUOUS_HOURLY = """
SELECT user_id,
       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
       COUNT(*) AS n, ROUND(SUM(value), 6) AS s
FROM events
GROUP BY 1, 2
"""


def q_compress_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla XOR + delta-of-delta, oracle-checked end-to-end: rollup the
    events to a minute tier, ENCODE it into binary blocks, DECODE it back,
    and hand the reconstructed points to the driver — they must hash-match
    DuckDB computing the same minute rollup directly. Proves the codecs
    are bit-lossless at the driver level, not just in pytest round-trips
    (operators/compress.py)."""
    from tablecloth_time_spark.operators.compress import (
        compress_series,
        decompress_blocks,
    )

    ev = _t(spark, sf_dir, "events")
    minute = rollup(
        ev, ["user_id"], "ts", 1, "minute",
        {"n": ("count", "event_id"), "s": ("sum", "value")},
        order_cols=["ts", "event_id"],
    )
    blocks = compress_series(
        minute.withColumn("user_id", F.col("user_id").cast("string")),
        ts_col="bucket",
        value_cols={"n": "int", "s": "float"},
        key_col="user_id",
        block_unit="day",
    )
    pts = decompress_blocks(blocks, value_cols={"n": "int", "s": "float"})
    return pts.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        F.col("ts").alias("bucket"),
        "n",
        F.round("s", 6).alias("s"),
    )


SQL_COMPRESS_ROUNDTRIP = """
SELECT user_id,
       date_trunc('minute', CAST(ts AS TIMESTAMP)) AS bucket,
       COUNT(*) AS n, ROUND(SUM(value), 6) AS s
FROM events
GROUP BY 1, 2
"""


def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visual aggregation (Jugel et al., VLDB 2014): the four extremum
    points (first/last/min/max) per 6-hour pixel bucket per event type —
    ONE hash-aggregate pass of lexicographic struct min/max, mergeable and
    map-side combined (operators/downsample.py:m4_downsample). This is the
    scale-first downsampler; the higher-fidelity sequential LTTB kernel
    kept its slot-free verification in tests/test_counters_stats.py and
    tests/test_property.py."""
    from tablecloth_time_spark.operators.downsample import m4_downsample

    ev = _t(spark, sf_dir, "events")
    out = m4_downsample(
        ev, "event_type", "ts", "value", 6, "hour",
        order_cols=["event_id"],
    )
    return out.select(
        "event_type", "bucket", "t_first", "t_last", "t_min", "t_max",
        F.round("v_first", 6).alias("v_first"),
        F.round("v_last", 6).alias("v_last"),
        F.round("v_min", 6).alias("v_min"),
        F.round("v_max", 6).alias("v_max"),
    )


SQL_M4_DOWNSAMPLE = """
WITH b AS (
  SELECT event_type, ts, event_id, value,
         make_timestamp((epoch_ms(CAST(ts AS TIMESTAMP))
                         - epoch_ms(CAST(ts AS TIMESTAMP)) % 21600000)
                        * 1000) AS bucket,
         row_number() OVER (PARTITION BY event_type,
                              epoch_ms(CAST(ts AS TIMESTAMP)) // 21600000
                            ORDER BY ts ASC, event_id ASC) AS rn_first,
         row_number() OVER (PARTITION BY event_type,
                              epoch_ms(CAST(ts AS TIMESTAMP)) // 21600000
                            ORDER BY ts DESC, event_id DESC) AS rn_last,
         row_number() OVER (PARTITION BY event_type,
                              epoch_ms(CAST(ts AS TIMESTAMP)) // 21600000
                            ORDER BY value ASC, ts ASC, event_id ASC) AS rn_min,
         row_number() OVER (PARTITION BY event_type,
                              epoch_ms(CAST(ts AS TIMESTAMP)) // 21600000
                            ORDER BY value DESC, ts DESC, event_id DESC) AS rn_max
  FROM events
)
SELECT event_type, bucket,
       CAST(MAX(CASE WHEN rn_first = 1 THEN ts END) AS TIMESTAMP) AS t_first,
       CAST(MAX(CASE WHEN rn_last  = 1 THEN ts END) AS TIMESTAMP) AS t_last,
       CAST(MAX(CASE WHEN rn_min   = 1 THEN ts END) AS TIMESTAMP) AS t_min,
       CAST(MAX(CASE WHEN rn_max   = 1 THEN ts END) AS TIMESTAMP) AS t_max,
       ROUND(MAX(CASE WHEN rn_first = 1 THEN value END), 6) AS v_first,
       ROUND(MAX(CASE WHEN rn_last  = 1 THEN value END), 6) AS v_last,
       ROUND(MAX(CASE WHEN rn_min   = 1 THEN value END), 6) AS v_min,
       ROUND(MAX(CASE WHEN rn_max   = 1 THEN value END), 6) AS v_max
FROM b
GROUP BY 1, 2
"""


def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesce per-user activity windows ([ts, ts+45min) around each
    event) into maximal disjoint active spans — gaps-and-islands as pure
    window exprs over ONE Exchange; half-open, so touching intervals merge
    (operators/intervals.py:merge_intervals)."""
    from tablecloth_time_spark.operators.intervals import merge_intervals

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("start"),
        (F.col("ts").cast("timestamp") + F.expr("INTERVAL 45 MINUTES")).alias(
            "end"
        ),
    )
    out = merge_intervals(iv, "user_id", "start", "end")
    return out.select("user_id", "start", "end", "n_merged")


SQL_MERGE_INTERVALS = """
WITH iv AS (
  SELECT user_id,
         CAST(ts AS TIMESTAMP) AS s,
         CAST(ts AS TIMESTAMP) + INTERVAL 45 MINUTE AS e
  FROM events
),
m AS (
  SELECT user_id, s, e,
         max(epoch_us(e)) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_max_e
  FROM iv
),
isl AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN prev_max_e IS NULL
                    OR epoch_us(s) > prev_max_e THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM m
)
SELECT user_id,
       MIN(s) AS start,
       MAX(e) AS "end",
       COUNT(*) AS n_merged
FROM isl
GROUP BY user_id, island
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over events users: cohort = the
    week of first activity; per offset, distinct returning users and the
    fraction of the cohort (operators/cohorts.py:cohort_retention — one
    distinct hash-agg + one user-window + a tiny triangle aggregate)."""
    from tablecloth_time_spark.operators.cohorts import cohort_retention

    ev = _t(spark, sf_dir, "events")
    out = cohort_retention(ev, "user_id", "ts", 1, "week")
    return out.select(
        "cohort", "offset", "n_users", "cohort_size",
        F.round("retention", 6).alias("retention"),
    )


SQL_COHORT_RETENTION = """
WITH act AS (
  SELECT DISTINCT user_id,
         (epoch_ms(CAST(ts AS TIMESTAMP))
          - epoch_ms(CAST(ts AS TIMESTAMP)) % 604800000) AS bucket_ms
  FROM events WHERE user_id IS NOT NULL
),
firsts AS (
  SELECT user_id, MIN(bucket_ms) AS cohort_ms FROM act GROUP BY 1
),
tri AS (
  SELECT f.cohort_ms,
         (a.bucket_ms - f.cohort_ms) // 604800000 AS "offset",
         COUNT(*) AS n_users
  FROM act a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT make_timestamp(cohort_ms * 1000) AS cohort,
       "offset", n_users,
       MAX(CASE WHEN "offset" = 0 THEN n_users END)
         OVER (PARTITION BY cohort_ms) AS cohort_size,
       ROUND(CAST(n_users AS DOUBLE)
             / MAX(CASE WHEN "offset" = 0 THEN n_users END)
                 OVER (PARTITION BY cohort_ms), 6) AS retention
FROM tri
"""


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings tables)
# ---------------------------------------------------------------------------

from tablecloth_time_spark.functions.text import STOPWORDS as _STOPWORDS

_STOPWORD_SQL = "['" + "','".join(_STOPWORDS) + "']"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablecloth_time_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    # df-level single-tokenize form: one regexp_replace + one split in the
    # optimized plan (vs once per metric with the raw expression helpers)
    m = TX.add_text_metrics(docs, "text")
    return m.select(
        "doc_id",
        "ws_tokens",
        "bpe_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("quality_score", 6).alias("quality"),
        TX.lang_id("text").alias("lang_pred"),
    )


SQL_TEXT_STATS = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), tok AS (
  SELECT doc_id, text, norm,
         CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
  FROM t
), stats AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens,
         len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
            / greatest(length(text), 1) AS punct_r,
         len(regexp_extract_all(text, '[0-9]')) * 1.0
            / greatest(length(text), 1) AS digit_r,
         len(list_filter(toks, x -> list_contains({_STOPWORD_SQL}, x))) * 1.0
            / greatest(len(toks), 1) AS sw_r,
         list_sum(list_transform(toks, x -> length(x))) * 1.0
            / greatest(len(toks), 1) AS mwl,
         length(text) AS n_chars
  FROM tok
)
SELECT doc_id,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
       ROUND(punct_r, 6) AS punct_ratio,
       ROUND(sw_r, 6) AS stopword_ratio,
       ROUND(COALESCE(mwl, 0), 6) AS mean_word_len,
       ROUND(
         0.25 * least(n_chars / 200.0, 1.0)
         + 0.25 * least(sw_r / 0.3, 1.0)
         + 0.2 * (CASE WHEN COALESCE(mwl, 0) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.3 END)
         + 0.3 * greatest(1.0 - (punct_r + digit_r) * 2, 0.0)
       , 6) AS quality
FROM stats
"""


def q_sample_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling for training-data curation: md5-based
    uniform fraction -> reproducible sample membership, train/val/test
    split assignment, and an exact top-3-per-(lang, source) stratified
    draw — all engine-independent (DuckDB recomputes the identical md5
    fractions), which is what makes this an exactly-oracled query."""
    from tablecloth_time_spark.operators.sample import (
        assign_splits,
        hash_fraction,
        sample_predicate,
        stratified_sample_exact,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = assign_splits(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).withColumn("sampled", sample_predicate("doc_id", 0.3))
    picks = stratified_sample_exact(docs, ["lang", "source"], "doc_id", 3).select(
        "doc_id", F.lit(True).alias("strat_pick")
    )
    return (
        out.join(picks, on="doc_id", how="left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.round(hash_fraction("doc_id"), 8).alias("frac"),
            "split",
            "sampled",
            F.coalesce("strat_pick", F.lit(False)).alias("strat_pick"),
        )
    )


SQL_SAMPLE_SPLITS = """
WITH h AS (
  SELECT doc_id, lang, source,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS frac
  FROM documents
), r AS (
  SELECT *, row_number() OVER (PARTITION BY lang, source ORDER BY frac, doc_id) AS rn
  FROM h
)
SELECT doc_id, lang, source,
       ROUND(frac, 8) AS frac,
       CASE WHEN frac < 0.8 THEN 'train'
            WHEN frac < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       frac < 0.3 AS sampled,
       rn <= 3 AS strat_pick
FROM r
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablecloth_time_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id("text").alias("lang_pred"))


def _lang_sql() -> str:
    from tablecloth_time_spark.functions.text import LANG_MARKERS

    hits = ",\n         ".join(
        f"len(regexp_extract_all(lower(text), '\\b({'|'.join(ws)})\\b')) AS h_{lang}"
        for lang, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"h_{la}" for la in langs) + ")"
    cases = " ".join(f"WHEN h_{la} = best THEN '{la}'" for la in langs)
    return f"""
WITH h AS (
  SELECT doc_id,
         {hits}
  FROM documents
), b AS (
  SELECT doc_id, h_en, h_de, h_fr, h_es, {best} AS best FROM h
)
SELECT doc_id, CASE WHEN best = 0 THEN 'und' {cases} END AS lang_pred
FROM b
"""


SQL_LANG_ID = _lang_sql()

# r3 query-budget fold: lang_id rides the text_stats scored query
SQL_TEXT_STATS_LANG = (
    "SELECT s.*, l.lang_pred FROM (" + SQL_TEXT_STATS + ") s "
    "JOIN (" + SQL_LANG_ID + ") l USING (doc_id)"
)


def q_pacf_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF (Durbin-Levinson over the engine's ACF frame) on a
    deterministic synthesized panel — 3 series x 256 points of daily+
    weekly sawtooth seasonality plus md5-fraction noise (engine- and
    SF-independent: pure integer/hash arithmetic, no libm). Oracle:
    pinned-golden VALUES independently re-derived by solving the
    Yule-Walker Toeplitz system with np.linalg.solve per lag
    (scripts/gen_pacf_oracle.py — NOT the engine's Durbin-Levinson),
    asserted within 1e-9 of the engine before pinning."""
    from tablecloth_time_spark.operators.acf import pacf
    from tablecloth_time_spark.operators.sample import hash_fraction

    n, nk, max_lag = 256, 3, 12
    base = spark.range(nk * n).select(
        F.concat(F.lit("s"), (F.col("id") / n).cast("long").cast("string")).alias(
            "k"
        ),
        (F.col("id") % n).cast("int").alias("t"),
    )
    noise = hash_fraction(
        F.concat(F.col("k"), F.lit(":"), F.col("t").cast("string")), salt="pacf"
    )
    x = (
        (F.col("t") % 24).cast("double") / 24.0
        + 0.5 * (F.col("t") % 168).cast("double") / 168.0
        + (noise - F.lit(0.5))
    )
    out = pacf(base.withColumn("x", x), ["k"], "t", "x", max_lag)
    return out.select("k", "lag", F.round("pacf", 6).alias("pacf"))


# generated by scripts/gen_pacf_oracle.py: Yule-Walker np.linalg.solve
# per lag (independent of the engine's Durbin-Levinson), sequential
# row-order ACF sums, md5-fraction panel rebuilt in pure hashlib.
# The generator's independence gate asserts |engine - YW| == 0 after
# decimal-HALF_UP rounding before printing; regenerate when the panel
# or max_lag changes.
SQL_PACF_SYNTHETIC = """
SELECT CAST(k AS VARCHAR) AS k, CAST(lag AS INT) AS lag,
       CAST(pacf AS DOUBLE) AS pacf
FROM (VALUES ('s0', 1, 0.421280), ('s0', 2, 0.217130), ('s0', 3, 0.034097), ('s0', 4, -0.036562), ('s0', 5, -0.056787), ('s0', 6, -0.020519), ('s0', 7, -0.077154), ('s0', 8, -0.074272), ('s0', 9, -0.100667), ('s0', 10, 0.027157), ('s0', 11, 0.084859), ('s0', 12, -0.094528), ('s1', 1, 0.491564), ('s1', 2, 0.164516), ('s1', 3, 0.000900), ('s1', 4, -0.025414), ('s1', 5, -0.003511), ('s1', 6, 0.050087), ('s1', 7, -0.063431), ('s1', 8, -0.096534), ('s1', 9, -0.080797), ('s1', 10, -0.049971), ('s1', 11, -0.006024), ('s1', 12, -0.122771), ('s2', 1, 0.396570), ('s2', 2, 0.251164), ('s2', 3, 0.067650), ('s2', 4, -0.069827), ('s2', 5, -0.055004), ('s2', 6, -0.173730), ('s2', 7, -0.037797), ('s2', 8, 0.027000), ('s2', 9, -0.001740), ('s2', 10, -0.031112), ('s2', 11, 0.017688), ('s2', 12, -0.093119)) AS t(k, lag, pacf)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C-style word-n-gram
    leakage filter): every 25th document plays the eval set; corpus docs
    sharing >= 1 distinct 4-gram with it are flagged. Full DuckDB oracle:
    the same normalize/tokenize/shingle pipeline (shared CTEs with the
    minhash/winnow oracles) re-derives n_hits exactly."""
    from tablecloth_time_spark.operators.dedup import ngram_overlap_flags

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    out = ngram_overlap_flags(docs, bench, n=4, min_hits=1)
    return out.select(
        "doc_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        "is_contaminated",
    )


def _sql_decontaminate(n: int = 4) -> str:
    return f"""
WITH {_sql_word_shingle_ctes(n)},
bg AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0),
hits AS (
  SELECT sh.doc_id, COUNT(*) AS n_hits
  FROM sh JOIN bg ON sh.s = bg.s
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) >= 1 AS is_contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablecloth_time_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


SQL_EXACT_DEDUP = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram Jaccard near-dup pairs through the SHIPPED operator
    (operators/dedup.ngram_jaccard_pairs), blocked by source; the rounded
    threshold filter is applied here so the boundary comparison matches the
    oracle exactly."""
    from tablecloth_time_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter("doc_id < 250")
    pairs = ngram_jaccard_pairs(docs, "source", "text", "doc_id", n=3, threshold=0.0)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim")
    ).filter(F.col("jaccard_sim") >= 0.62)


SQL_NGRAM_JACCARD = """
WITH d AS (
  SELECT doc_id, source,
         list_distinct([substring(norm, i, 3) for i in range(1, length(norm)-1)]) AS g
  FROM (SELECT doc_id, source,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        FROM documents WHERE doc_id < 250)
),
p AS (
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.g, b.g)) * 1.0
             / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard_sim
FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
SELECT * FROM p WHERE jaccard_sim >= 0.62
"""


def _cosine_expr(a, b):
    from tablecloth_time_spark.operators.similarity import cosine

    return cosine(a, b)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").filter("vec_id < 300")
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, on=[F.col("a.vec_id") < F.col("b.vec_id")])
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(
                _cosine_expr(F.col("a.embedding"), F.col("b.embedding")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.30)
    )


SQL_EMBEDDING_NEAR_DUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings WHERE vec_id < 300),
p AS (
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_inner_product(a.embedding, b.embedding)
             / (sqrt(list_inner_product(a.embedding, a.embedding))
                * sqrt(list_inner_product(b.embedding, b.embedding))), 6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT * FROM p WHERE cosine_sim >= 0.30
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 probe vectors; rank on the rounded
    similarity so the window order is engine-independent."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = emb.crossJoin(F.broadcast(queries_df)).select(
        "query_id",
        "vec_id",
        F.round(_cosine_expr(F.col("qv"), F.col("embedding")), 6).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


SQL_EMBEDDING_TOPK = """
WITH ed AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM ed WHERE vec_id < 5),
s AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_inner_product(q.qv, e.embedding)
               / (sqrt(list_inner_product(q.qv, q.qv))
                  * sqrt(list_inner_product(e.embedding, e.embedding))), 6) AS cosine_sim
  FROM ed e CROSS JOIN q
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id) AS INT) AS rank
FROM s
QUALIFY rank <= 10
"""


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (exact-Jaccard verified) — FULL SQL
    oracle (r4): the driver runs the hash_fn='md5' variant, whose base
    hash (text.hash64_md5: first 15 md5 hex chars as int) and band bucket
    keys (md5 of the signature slice) DuckDB recomputes bit-for-bit, so
    _sql_minhash_dedup re-derives the ENTIRE pipeline — shingles, 64
    affine minhashes, 16-band buckets, candidate join, exact-Jaccard
    verify. The xxhash64 default stays the scale path (bench.py measures
    it); both are uniform hashes with identical sketch semantics."""
    from tablecloth_time_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, threshold=0.35, n_hashes=64, bands=16, shingle_words=2,
        hash_fn="md5",
    ).select(
        "id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim")
    )


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs — FULL SQL oracle (r4) via the
    hash_fn='md5' variant (64 signature bits from two 32-bit md5 halves);
    _sql_simhash_dedup re-derives signatures, 16-bit band blocks, and the
    bit_count(xor) hamming verify in DuckDB."""
    from tablecloth_time_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    out = simhash_pairs(docs, max_hamming=6, shingle_words=2, hash_fn="md5")
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — FULL SQL oracle: the candidate set
    is deterministic given the seed (random-hyperplane sign buckets from
    default_rng planes shipped as double literals), so the DuckDB oracle
    re-derives the identical buckets from the same plane literals via
    list_inner_product and ranks on the same rounded cosine
    (_sql_lsh_ann_topk). Recall floor additionally pinned in
    tests/test_training_ops.py."""
    from tablecloth_time_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_ann_topk(
        emb, queries_df, dim=64, k=10, n_planes=10, n_tables=4, round_sim=6
    ).select("query_id", "vec_id", "cosine_sim", "rank")


_COSINE_SQL = (
    "list_inner_product({a}, {b}) / (sqrt(list_inner_product({a}, {a}))"
    " * sqrt(list_inner_product({b}, {b})))"
)


def _sql_lsh_ann_topk(n_planes: int = 10, n_tables: int = 4, seed: int = 42,
                      dim: int = 64, k: int = 10) -> str:
    """DuckDB re-derivation of q_lsh_ann_topk: same plane doubles (repr
    round-trips exactly), same sign-bit buckets, same candidate join +
    dedup, same rounded-cosine rank order. Engines agree bit-for-bit
    because every per-element product and the left-to-right accumulation
    are identical IEEE-754 double ops on both sides."""
    import numpy as np

    rows = []
    for t in range(n_tables):
        planes = np.random.default_rng(seed + 1000 * t).standard_normal(
            (n_planes, dim)
        )
        for i in range(n_planes):
            arr = "[" + ", ".join(repr(float(x)) for x in planes[i]) + "]"
            rows.append(f"({t}, {i}, {arr}::DOUBLE[])")
    values = ",\n  ".join(rows)
    return f"""
WITH planes(table_id, plane_id, p) AS (VALUES
  {values}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT e.vec_id, pl.table_id,
         CAST(SUM(CASE WHEN list_inner_product(e.v, pl.p) >= 0
                       THEN 1::BIGINT << pl.plane_id ELSE 0 END) AS BIGINT)
           AS bucket
  FROM e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.table_id
),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id
  FROM b cb JOIN (SELECT * FROM b WHERE vec_id < 5) qb
    ON cb.table_id = qb.table_id AND cb.bucket = qb.bucket
),
s AS (
  SELECT cand.query_id, cand.vec_id,
         ROUND({_COSINE_SQL.format(a="q.v", b="e.v")}, 6) AS cosine_sim
  FROM cand
  JOIN e q ON cand.query_id = q.vec_id
  JOIN e   ON cand.vec_id = e.vec_id
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id) AS INT) AS rank
FROM s
QUALIFY rank <= {k}
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing smoke: deterministic fake decode over synthetic
    media (payload decode stubbed; Spark-side schema/batching real)."""
    from tablecloth_time_spark.operators.multimodal import (
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=64)
    feats = extract_features(media, feature_dim=16)
    return feats.select(
        "media_id",
        "payload_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
    )


# The fake codec is a pure seeded function, so the expected features are a
# pinned golden: this VALUES table was recomputed INDEPENDENTLY of Spark by
# replaying the generator contract in plain numpy (default_rng(42), n=64,
# dim=16 fold-mean/255, left-fold double sum, round 6) — upgrading
# media_features from rows-only to a full rows+schema+hash oracle check.
# Regenerate with: python scripts/gen_media_oracle.py
SQL_MEDIA_FEATURES = """
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(payload_bytes AS BIGINT) AS payload_bytes,
       CAST(feature_sum AS DOUBLE) AS feature_sum
FROM (VALUES
  (0, 482, 7.747501), (1, 3520, 7.952478), (2, 3501, 7.95133),
  (3, 2579, 7.749262), (4, 3798, 7.930911), (5, 1745, 7.851087),
  (6, 1783, 7.874405), (7, 1027, 7.697738), (8, 1268, 7.696324),
  (9, 1438, 8.295991), (10, 1693, 7.930707), (11, 271, 7.617532),
  (12, 1632, 7.873625), (13, 1244, 7.884264), (14, 877, 7.815758),
  (15, 3760, 8.005974), (16, 418, 7.480465), (17, 2924, 7.864074),
  (18, 236, 7.630327), (19, 3381, 7.948058), (20, 3195, 8.058745),
  (21, 2320, 7.978688), (22, 1453, 8.015169), (23, 2118, 7.907298),
  (24, 2428, 7.977993), (25, 2755, 7.930273), (26, 1990, 7.724078),
  (27, 2678, 7.954108), (28, 3416, 7.936962), (29, 2904, 8.011873),
  (30, 3735, 8.060181), (31, 2050, 8.022739), (32, 468, 7.36719),
  (33, 2880, 8.00671), (34, 982, 7.982985), (35, 974, 8.083317),
  (36, 3938, 7.893276), (37, 1598, 7.981529), (38, 1591, 7.870941),
  (39, 1245, 8.05083), (40, 3191, 7.973824), (41, 3862, 7.989872),
  (42, 510, 7.953309), (43, 1295, 8.064294), (44, 1428, 8.105708),
  (45, 1034, 7.975445), (46, 716, 7.981612), (47, 876, 8.008414),
  (48, 1132, 8.09224), (49, 538, 7.638524), (50, 1743, 8.091383),
  (51, 888, 7.946429), (52, 2138, 8.012965), (53, 3624, 7.993504),
  (54, 3130, 7.790516), (55, 1155, 7.792318), (56, 1463, 8.155925),
  (57, 3701, 8.09951), (58, 1167, 7.914746), (59, 1783, 8.06376),
  (60, 346, 7.674153), (61, 493, 8.187223), (62, 930, 7.789432),
  (63, 3247, 8.027586)
) AS t(media_id, payload_bytes, feature_sum)
"""


def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (rolling-hash sketch, MOSS
    style) — FULL SQL oracle (r4) via hash_fn='md5': SQL_WINNOW_DEDUP
    re-derives the k-gram hashes, the w-window minima selection, and the
    per-source pair Jaccard in DuckDB. The emitted pairs' true char-5-gram
    similarity is additionally soundness-checked
    (tests/test_soundness_duckdb.py). Threshold 0.25 over the full
    documents table yields a meaningful pair set (~61 rows at sf0.01)
    instead of the single 0.35 outlier."""
    from tablecloth_time_spark.functions.text import jaccard, winnow_fingerprint_sets

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprint_sets(docs, "text", "doc_id", 5, 4, hash_fn="md5")
    g = docs.select("source", "doc_id").join(
        fps.withColumnRenamed("__id", "doc_id"), "doc_id"
    )
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.source") == F.col("b.source"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jaccard(F.col("a.fp"), F.col("b.fp")), 6).alias("fp_sim"),
        )
        .filter(F.col("fp_sim") >= 0.25)
    )


def _sql_word_shingle_ctes(n: int) -> str:
    """Shared DuckDB CTE prefix: normalized text -> whitespace tokens ->
    DISTINCT word n-shingles, mirroring functions/text.with_word_shingles
    (lower + trim + collapse-\\s+, split on the collapsed single spaces,
    concat_ws(' ') over each n-token window, set semantics)."""
    shingle = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]"
                                 for j in range(n))
    return f"""norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
),
tok AS (
  SELECT doc_id, CASE WHEN t = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split(t, ' ') END AS toks
  FROM norm
),
sh AS (
  SELECT DISTINCT doc_id, {shingle} AS s
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {n - 1})) AS i
        FROM tok WHERE len(toks) >= {n})
)"""


def _sql_minhash_dedup(n_hashes: int = 64, bands: int = 16,
                       shingle_words: int = 2, threshold: float = 0.35,
                       seed: int = 42) -> str:
    """DuckDB re-derivation of q_minhash_dedup (hash_fn='md5'): same
    shingles, same 60-bit md5 base hash mod the Mersenne prime, the same
    64 affine rehash min-aggregates (identical int64 arithmetic — a*h <
    2^62, no overflow on either engine), md5 band-bucket keys over the
    same comma-joined signature slices, candidate self-join with id_a <
    id_b + dedup, exact-Jaccard verify from the shingle sets, and the
    UNROUNDED threshold filter (the operator filters before the query
    rounds — order preserved here)."""
    from tablecloth_time_spark.operators.dedup import _MERSENNE, _minhash_coeffs

    r = n_hashes // bands
    coeffs = _minhash_coeffs(n_hashes, seed)
    mins = ",\n         ".join(
        f"MIN((({a} * h) % {_MERSENNE} + {b}) % {_MERSENNE}) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, md5({c}) AS bh FROM sig".format(
            b=b,
            c=" || ',' || ".join(
                f"CAST(m{i} AS VARCHAR)" for i in range(b * r, (b + 1) * r)
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH {_sql_word_shingle_ctes(shingle_words)},
hb AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) % {_MERSENNE} AS h
  FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hb GROUP BY doc_id
),
banded AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
),
card AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
iv AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       ROUND(COALESCE(iv.i, 0) / (ca.n + cb.n - COALESCE(iv.i, 0)), 6)
         AS jaccard_sim
FROM cand c
JOIN card ca ON ca.doc_id = c.id_a
JOIN card cb ON cb.doc_id = c.id_b
LEFT JOIN iv ON iv.id_a = c.id_a AND iv.id_b = c.id_b
WHERE COALESCE(iv.i, 0) / (ca.n + cb.n - COALESCE(iv.i, 0)) >= {threshold}
"""


def _sql_simhash_dedup(shingle_words: int = 2, bands: int = 4,
                       max_hamming: int = 6) -> str:
    """DuckDB re-derivation of q_simhash_dedup (hash_fn='md5'): 64 bit
    sums from the two 32-bit md5 halves (bit i<32 from the low half,
    i>=32 from the high — the exact operators/dedup.simhash_signatures
    contract), two's-complement signature assembly (bit 63 = int64 min),
    16-bit band blocking ((sim >> 16b) & 0xFFFF — arithmetic shift then
    mask, identical on both engines), and bit_count(xor) hamming."""
    bits_per = 64 // bands
    sums = ",\n         ".join(
        "SUM(CASE WHEN (({src} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END)"
        " AS s{i}".format(
            src="bl" if i < 32 else "bh", sh=i % 32, i=i
        )
        for i in range(64)
    )
    weights = "\n       | ".join(
        "(CASE WHEN s{i} >= 0 THEN CAST({w} AS BIGINT) ELSE 0 END)".format(
            i=i, w=(1 << i) if i < 63 else "-9223372036854775807 - 1"
        )
        for i in range(64)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sim, {b} AS band_id,"
        f" (sim >> {b * bits_per}) & {(1 << bits_per) - 1} AS bv FROM sig"
        for b in range(bands)
    )
    return f"""
WITH {_sql_word_shingle_ctes(shingle_words)},
hb AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT) AS bh,
         CAST(('0x' || substring(md5(s), 9, 8)) AS BIGINT) AS bl
  FROM sh
),
sums AS (
  SELECT doc_id,
         {sums}
  FROM hb GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         {weights} AS sim
  FROM sums
),
banded AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sim AS sim_a, b.sim AS sim_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
"""


SQL_WINNOW_DEDUP = """
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
),
g AS (
  SELECT doc_id, i,
         CAST(('0x' || substring(md5(substring(t, i, 5)), 1, 15)) AS BIGINT)
           AS h
  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 4)) AS i
        FROM norm WHERE length(t) >= 5)
),
wm AS (
  SELECT doc_id, i,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM g
),
-- keep window minima only for full windows (pos <= max(n-w+1, 1)); the
-- 1-based i mirrors the engine's 0-based posexplode + 1
kept AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE i <= GREATEST(n - 3, 1)),
card AS (SELECT doc_id, COUNT(*) AS nfp FROM kept GROUP BY 1),
d AS (
  SELECT dd.doc_id, dd.source, COALESCE(card.nfp, 0) AS nfp
  FROM documents dd LEFT JOIN card ON card.doc_id = dd.doc_id
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.nfp AS na, b.nfp AS nb
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
),
iv AS (
  SELECT ka.doc_id AS id_a, kb.doc_id AS id_b, COUNT(*) AS i
  FROM kept ka JOIN kept kb
    ON ka.wmin = kb.wmin AND ka.doc_id < kb.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT p.id_a, p.id_b,
         -- two empty fingerprint sets are jaccard-1.0 by the engine's
         -- jaccard() contract (union = 0 branch)
         ROUND(CASE WHEN p.na + p.nb - COALESCE(iv.i, 0) = 0 THEN 1.0
                    ELSE COALESCE(iv.i, 0) / (p.na + p.nb - COALESCE(iv.i, 0))
               END, 6) AS fp_sim
  FROM pairs p LEFT JOIN iv ON iv.id_a = p.id_a AND iv.id_b = p.id_b
)
SELECT id_a, id_b, fp_sim FROM scored WHERE fp_sim >= 0.25
"""


# Pinned IVF coarse-quantizer (the FAISS deployment shape: train offline,
# ship the quantizer with the index). Trained Spark-independently — sf0.01
# embeddings in vec_id order, spherical k-means, default_rng(42), 10
# iterations — so both engines assign cells from the same double literals.
# Regenerate with: python scripts/gen_ivf_centroids.py
_IVF_CENTROIDS: list[list[float]] = [
    [-0.008073977221426517, 0.11046624811022579, 0.061941012729819216, -0.012278720063783687, -0.02583019374319164, -0.05381187360644228, -0.10295402762515034, -0.14347375219851427, 0.13849790447486798, -0.20278437386693068, -0.025126303398913006, -0.19631552890383908, 0.07403777835131421, 0.02778968375969947, -0.014860945648155127, 0.19882456005001323, -0.10621451164703542, 0.10920656624320445, -0.08892057404945701, 0.09365907134962685, 0.07220341710416624, 0.04936042382620952, -0.051156660385481, -0.012217710469595801, -0.08345114415920836, -0.20800833650703274, -0.03378465818524856, -0.04096363869027477, -0.008661962049515543, 0.09635812494386058, 0.040029846954769806, -0.1712844714086875, 0.0962791185515832, 0.1849961772305726, -0.15465078821619474, 0.019545072740404387, 0.012531970949966349, -0.24329635453757756, -0.09862888141714964, -0.02861078533713825, 0.09420321276810927, -0.2054539521369874, 0.28349000731466734, 0.13693442842544967, -0.29142281783435425, 0.2648274199719685, -0.020315574524149418, -0.07319663510430052, 0.021701058276624264, -0.06960831939576703, -0.0845079834059337, 0.14570134803883333, -0.01134916507150254, 0.03486792450182369, 0.15801744554966765, 0.11344207127622542, 0.16950727013874237, 0.07703756371344785, -0.12723896351267788, -0.10198299584202646, -0.1780153451501375, -0.09849384834782793, 0.15522559503617378, 0.10736279355250845],
    [0.05467669645147275, 0.04964665250115266, -0.20766685002258686, -0.041637456701315446, 0.06914899921457142, -0.0011559090383794271, -0.0036948781211392613, -0.05008414960701236, 0.005537441258183555, -0.2653421817477733, -0.05962273000929473, -0.037124511393041314, -0.032202991055122795, 0.1281760981401334, -0.04829247786430459, 0.01570266427490433, 0.04596414676895563, 0.22322291964374333, -0.029514411714421485, -0.18871804817966914, 0.21682238389222516, -0.023441528841343724, 0.19183897761190244, -0.3183158181834374, 0.10196375078184383, -0.061924817458308176, 0.016512373979858046, -0.10356873195308826, -0.16532244026217252, -0.04631296531593122, -0.0315285876567534, -0.03303224491640251, -0.048984230083820614, -0.12369693615776861, -0.004862123284987224, -0.051247753431135655, 0.1433320585616212, 0.11009761708109027, 0.05732754730556849, -0.10866202556195184, 0.16698784897413257, 0.23594883157542287, -0.11719333889381203, -0.3337941467458953, 0.11269800549549283, 0.02369329181602719, 0.08668413171823884, 0.09066864367842828, -0.05101332852731154, -0.21010700906893645, -0.177105706950137, -0.05173976088274024, 0.12991441199789255, -0.08517510142387802, 0.13631428780930716, -0.11651041593244503, -0.1605867930876336, -0.055003323584672595, 0.010881271386232728, 0.017998057034369616, -0.07713979084190392, 0.11983009836413577, 0.13686597423597496, 0.06974902027465958],
    [0.05832274466176808, -0.13584841820893837, -0.05055573996392254, 0.0039960220996830866, -0.0655260348334434, -0.049904916493636826, 0.019406013697967683, 0.10787128408163785, 0.029423918886482096, -0.0002594061531093731, 0.26892498502161466, 0.0682041687901034, -0.11912914418990166, 0.031710715821878524, -0.23117366353618968, -0.14875856293493528, -0.05325288451995954, 0.1875440886738356, -0.01878632901999265, 0.028824377744361925, -0.21210913170333362, -0.030060310765974894, 0.05223769062394105, -0.2611056934991905, -0.15176432524793834, -0.028025145557669218, -0.10015505014888172, 0.11127052428775032, 0.05457668936107263, -0.014383564292810519, -0.11517094627627102, -0.16589489392166798, 0.13093390559768978, -0.012168447961899377, 0.00975260911120662, 0.12395915598018852, -0.15685059812903498, -0.11590146227630027, 0.22571617330114105, 0.14280685843027469, 0.11316603575774473, -0.08758098601828193, 0.036119669913234606, 0.08717935889642592, -0.14339897452405917, -0.0820876787482235, -0.011377546172180234, 0.06596813468018596, -0.07149862783685096, 0.21439505024627192, 0.1402608535771755, -0.13626108301054332, -0.01196455727368601, 0.00029533307741126766, 0.23725077737479847, -0.14675256464971298, -0.059703864517526344, 0.08149910860238531, 0.1566363341989309, -0.2524404747775576, 0.07441847532004836, 0.11107108422434757, -0.14224662550453093, -0.1866025843309617],
    [-0.21611750178393468, 0.2641596474555694, 0.053430627559914665, 0.060215280634471506, -0.25743332727392787, 0.2306155992720585, -0.0762645767895164, -0.011610804465177395, -0.11913617803699603, 0.07065059845550208, -0.1596451104250608, 0.2779998253442983, -0.10120103010308854, -0.15171551955002055, -0.20310163342244925, -0.026675419631617982, 0.18169622047997558, -0.08905441075115184, 0.2910521112488808, -0.022787248267146714, -0.1987880817634995, 0.03105971408301482, 0.060968650645112296, 0.11628133567031966, 0.1060241511000898, 0.0007673802575668328, 0.16850222443963264, 0.035956352820368104, 0.03607216429665992, -0.09081885548854643, -0.001307473230161986, 0.06991611522688293, -0.1691828957106691, -0.12094803340050649, -0.023835307388853675, 0.1376215576803077, -0.1656726738424431, 0.05297701343725788, 0.019702296189247997, -0.14353457415325396, -0.1414249618331804, -0.019236312383386935, 0.0734037673429556, 0.08364060798816063, -0.13279339396537013, -0.002519569275595868, -0.05606642072567109, -0.006686676679742029, 0.017189467360428107, -0.1123011814182452, 0.08569892995041453, -0.07299039223399045, 0.12073131742018968, -0.10097947434699366, -0.15579862842713496, -0.01635377693755137, 0.14360504515718814, 0.08523392459007846, 0.04939118645485807, 0.10480822691144552, -0.1382102376231028, 0.10144098487181388, -0.009049035181507879, 0.04384543333064731],
    [-0.01160199335573723, -0.22576563107941322, 0.00470834358570188, -0.0997212400723706, 0.18484873636026683, 0.16182956110525268, -0.3033353098267771, 0.04146545507830949, 0.20035737853683308, 0.051383806323904296, -0.022024761663222734, 0.014625294633900866, 0.018996930426787108, -0.18605298448410837, 0.18826534673604017, -0.04136885505194535, -0.003859903710386393, -0.1760315730004804, -0.08060730237522912, -0.017294084023083384, 0.03628090425255818, 0.22900581114591553, -0.08888746928869566, -0.017741563968516956, -0.11671028559609792, 0.2947242952629833, 0.24393704261292146, -0.009735320353774252, 0.10604165851335585, -0.07368384233404603, -0.030068419078908438, 0.19067834578133636, 0.02569152685034044, -0.05804818593690926, 0.11919356068684663, -0.2082931657234683, -0.031098590675966657, 0.17194778392967222, -0.047597835400149856, 0.046114918009801435, -0.12138295043940324, -0.15310223389639974, 0.056079801884874464, 0.011578356108430549, -0.07509304101683265, 0.07706554467259732, -0.10150267864163011, 0.09466418669411761, -0.08914575331492672, -0.0281733963539248, -0.0615155316359419, -0.012331860614017092, -0.06737325408207581, -0.139430565925292, -0.18062384628176112, 0.04266064224465811, -0.07299691309717435, 0.034568773323570154, -0.012856363504079864, 0.08402827748428371, -0.1896045798369224, 0.022964854365952178, 0.15548328797071212, -0.20269007883683213],
    [-0.1076576305747659, -0.08307871667604155, 0.047960427055807775, -0.1613710105623436, 0.2059902732376325, 0.02969411283641824, 0.14053907789040165, -0.20435247001563303, 0.017921865494855048, 0.13283438686812613, 0.17088172404324534, -0.09509281939382512, -0.19516245069114302, 0.2739035383192528, 0.0020371584887779043, -0.033224627243649774, 0.17373176478461455, 0.30085841437204375, 0.07116864664753962, -0.05029808083692301, 0.050126371136323115, 0.012065377138009233, -0.1447949528936848, 0.2190559784312854, -0.10898657250126602, -0.030659102485040404, -0.1083353587342625, 0.14051339158368145, 0.12913022222314763, 0.05254264738507406, 0.19574299411942606, 0.005091483572706294, -0.03737710695560145, -0.05989209029253859, 0.016291449818294612, -0.027353722302014955, 0.035873874833845465, -0.007087278744798112, -0.029566832880667436, 0.15155593513928464, -0.23791788086163254, 0.10644123282482498, -0.007006503883625386, 0.02562387240397774, 0.16576036205569405, -0.10688120515455346, 0.18632741141155978, -0.00750987695174683, 0.04434455901367822, -0.07586007704474539, 0.07776095239701027, -0.03487433618577327, 0.11811981200306268, -0.0213711775214424, 0.1308669647211211, 0.23972729614699742, -0.16771856394025136, -0.16364216086463598, -0.05321130178036069, -0.044022582918681864, 0.13587654527220575, 0.01724569066773364, -0.11038147158019407, -0.08849872734249505],
    [0.10907095306175092, -0.06774523265164757, 0.03068878399736515, -0.05623768812011917, -0.028550082394712063, -0.0011538443554462172, -0.08282286844790031, 0.041099174462954656, -0.12384235194114523, 0.20497582333427133, -0.015489577388768518, 0.09945273220728597, 0.25679626583362775, -0.11097502721834798, 0.2167661708117314, 0.11091583358858194, -0.049047241260183144, 0.004125051444329679, 0.18873136085882303, 0.129853320147977, 0.04224707498286927, -0.12751215162763954, -0.07577055574811453, -0.008882408397343368, 0.07252742260695552, 0.3472702495300053, -0.027195471851346614, 0.15337470773502238, -0.1902648256987405, 0.0030059744410134213, -0.15133341505828882, -0.029998454745891107, 0.2910067451671535, -0.08535932931408526, 0.1567714278985487, -0.08647982638067746, 0.03598951333429523, -0.14506833819019838, -0.09328303974889227, -0.21283976830106413, 0.11669204848269885, -0.1093605594784124, -0.08402860119120358, -0.08779997329529846, 0.18957601566367158, 0.000761629754129825, -0.027288086683017996, -0.10309447920350169, 0.09204069646389944, -0.06448800254565476, 0.0824662353262363, -0.033447655227751255, -0.009604421869738826, 0.04014970832434414, -0.06856401354486678, -0.04016325243375917, 0.19137748168489518, 0.054007819534813796, 0.01649449595478889, -0.12271697851254645, 0.22109534947936021, 0.08496307653906389, -0.21738536448647378, -0.035820400825151706],
    [0.13781268902806498, -0.00890468195010051, 0.16323806291741225, 0.13443230042223955, 0.17862488602482837, -0.07343619475147657, -0.09214761877520532, 0.3842360216398057, -0.1945193509485755, -0.012080982338384444, 0.024694071021584805, -0.043653762868299306, 0.004094903447931085, 0.0711537999019902, 0.0609796479862129, 0.10438954801638566, -0.060022275212891774, -0.29773378912960125, -0.27993533164799744, 0.055370971197334605, -0.09446851764507702, -0.06810994015259253, 0.14189501570514126, 0.07363466292772126, 0.10801274032233599, 0.020210513040156513, -0.1925000084406702, 0.030041927194084564, 0.007694770152522893, 0.08579666179191839, 0.24908295480155873, -0.04533846195560318, -0.04617028758951829, 0.07424601258603908, 0.01012556722088616, 0.12060599449110584, -0.02148356234358722, 0.0886408343382319, -0.06899700467119044, 0.09931843200754038, -0.0533836221838074, -0.09443238304720679, -0.1793070234671331, 0.0630802459859582, -0.14423949445031695, -0.04358651027542135, -0.04412110967210511, 0.08229696087641597, -0.04928845250975716, 0.012818858383399273, 0.18505239604514737, 0.141509207113462, -0.014113191441907423, 0.13818483584700741, -0.08309011369132399, -0.12272627587940084, 0.09375900148759393, -0.17066098695833057, -0.17495394107580314, 0.0467103340331001, 0.12365198785669589, -0.18847760003322095, -0.003984548006292103, -0.06340938311364704],
]


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (coarse quantizer + nprobe cells + re-rank) —
    FULL SQL oracle: the quantizer is the pinned offline-trained
    _IVF_CENTROIDS, so cell assignment, the nprobe probe set, and the
    rounded-cosine re-rank are all deterministic and re-derivable in
    DuckDB (_sql_ivf_topk). Recall floor pinned in tests."""
    import numpy as np

    from tablecloth_time_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(
        emb, queries_df, dim=64, k=10, nprobe=4,
        centroids=np.array(_IVF_CENTROIDS, dtype=np.float64), round_sim=6,
    ).select("query_id", "vec_id", "cosine_sim", "rank")


def _sql_ivf_topk(nprobe: int = 4, k: int = 10) -> str:
    """DuckDB re-derivation of q_ivf_topk from the same pinned centroids.

    Mirrors operators/similarity.py exactly: corpus cell = argmax dot
    (ties broken toward the LARGER cell id — ivf_assign reverses an
    ascending (sim, cell) struct sort), queries probe their nprobe top
    cells, exact cosine re-rank on the rounded value."""
    rows = []
    for i, c in enumerate(_IVF_CENTROIDS):
        arr = "[" + ", ".join(repr(float(x)) for x in c) + "]"
        rows.append(f"({i}, {arr}::DOUBLE[])")
    values = ",\n  ".join(rows)
    return f"""
WITH cent(cell, p) AS (VALUES
  {values}
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sims AS (
  SELECT e.vec_id, c.cell, list_inner_product(e.v, c.p) AS sim
  FROM e CROSS JOIN cent c
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cell DESC) AS rn
  FROM sims
),
assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
qcells AS (SELECT vec_id AS query_id, cell FROM ranked
           WHERE vec_id < 5 AND rn <= {nprobe}),
s AS (
  SELECT qc.query_id, a.vec_id,
         ROUND({_COSINE_SQL.format(a="q.v", b="e.v")}, 6) AS cosine_sim
  FROM assign a
  JOIN qcells qc ON a.cell = qc.cell
  JOIN e q ON qc.query_id = q.vec_id
  JOIN e   ON a.vec_id = e.vec_id
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id) AS INT) AS rank
FROM s
QUALIFY rank <= {k}
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over n-gram near-dup pairs (iterative min-label
    propagation). Input pairs are deterministic (the oracle-checked
    ngram_jaccard_pairs), and min-label CC is a recursive reachability CTE
    in DuckDB -> full oracle check."""
    from tablecloth_time_spark.operators.dedup import pairs_to_clusters

    pairs = q_ngram_jaccard_pairs(spark, sf_dir)
    return pairs_to_clusters(pairs)


def q_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style predict_linear per user, run the way the 100 TB
    deployment would: over a pre-aggregated HOURLY MEAN tier (the
    operator's documented usage), not raw samples — the regular grid
    bounds every frame's slope by the data's real dynamics, where raw
    irregular events admit near-vertical two-points-seconds-apart fits
    whose extrapolations amplify engine-level moment roundoff past the
    ROUND(6) oracle grid (measured: one flipped row at sf0.1). Trailing
    6-hour window, value extrapolated 1 hour ahead. One rollup + one
    per-key sort with two regr_* window aggregates
    (operators/stats.py:predict_linear)."""
    from tablecloth_time_spark.operators.stats import predict_linear

    ev = _t(spark, sf_dir, "events")
    tier = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.avg("value").alias("v"))
    out = predict_linear(
        tier, ["user_id"], "bucket", "v", (6, "hour"), (1, "hour"),
        per="hour",
    )
    return out.select(
        "user_id", "bucket",
        F.round("slope", 6).alias("slope"),
        F.round("predicted", 6).alias("predicted"),
    )


SQL_PREDICT_LINEAR = """
WITH tier AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, AVG(value) AS v
  FROM events GROUP BY 1, 2
),
o AS (
  SELECT user_id, bucket,
         epoch_ms(CAST(bucket AS TIMESTAMP)) AS ms,
         (epoch_ms(CAST(bucket AS TIMESTAMP))
            - MIN(epoch_ms(CAST(bucket AS TIMESTAMP)))
                OVER (PARTITION BY user_id)) / 3600000.0 AS x,
         v
  FROM tier
),
w AS (
  SELECT user_id, bucket, x,
         regr_slope(v, x) OVER wr AS slope,
         regr_intercept(v, x) OVER wr AS icept
  FROM o
  -- frame edges on exact integer millis (the engine's ordering key);
  -- the regression axis x is the anchored epoch-hours double
  WINDOW wr AS (PARTITION BY user_id ORDER BY ms
                RANGE BETWEEN 21600000 PRECEDING AND CURRENT ROW)
)
SELECT user_id, bucket,
       ROUND(slope, 6) AS slope,
       ROUND(icept + slope * (x + 1.0), 6) AS predicted
FROM w
"""


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 6-hour Pearson correlation between each user's value
    series and a second derived series (props length) — the
    metrics-decoupling monitor. Guarded raw co-moments over per-key
    globally-centered values; zero-variance frames yield NULL instead
    of the ANSI DIVIDE_BY_ZERO the built-in corr raises
    (operators/rolling.py:rolling_corr)."""
    from tablecloth_time_spark.operators.rolling import rolling_corr

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value",
        F.length("props").cast("double").alias("plen"),
    )
    out = rolling_corr(
        ev, ["user_id"], "ts", "value", "plen", 6, "hour", min_periods=3
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.round("corr", 6).alias("corr"),
    )


# mirrors the operator's exact expression order: center by the per-key
# global mean, pairwise-complete raw moments over the RANGE frame, then
# the guarded Pearson ratio — same IEEE ops, same parenthesization.
SQL_ROLLING_CORR = """
WITH o AS (
  SELECT event_id, user_id, ts,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms,
         value - AVG(value) OVER (PARTITION BY user_id) AS a,
         CAST(length(props) AS DOUBLE)
           - AVG(CAST(length(props) AS DOUBLE))
               OVER (PARTITION BY user_id) AS b
  FROM events
),
m AS (
  SELECT event_id, user_id, ts,
         CAST(COUNT(CASE WHEN b IS NOT NULL THEN a END) OVER w AS DOUBLE) AS n,
         SUM(CASE WHEN b IS NOT NULL THEN a END) OVER w AS sa,
         SUM(CASE WHEN a IS NOT NULL THEN b END) OVER w AS sb,
         SUM((CASE WHEN b IS NOT NULL THEN a END)
             * (CASE WHEN b IS NOT NULL THEN a END)) OVER w AS saa,
         SUM((CASE WHEN a IS NOT NULL THEN b END)
             * (CASE WHEN a IS NOT NULL THEN b END)) OVER w AS sbb,
         SUM((CASE WHEN b IS NOT NULL THEN a END)
             * (CASE WHEN a IS NOT NULL THEN b END)) OVER w AS sab
  FROM o
  WINDOW w AS (PARTITION BY user_id ORDER BY ms
               RANGE BETWEEN 21600000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts,
       ROUND(CASE WHEN n >= 3
                   AND (saa - sa * sa / n) > 0
                   AND (sbb - sb * sb / n) > 0
                  THEN LEAST(GREATEST(
                         (sab - sa * sb / n)
                         / SQRT((saa - sa * sa / n) * (sbb - sb * sb / n)),
                         -1.0), 1.0)
             END, 6) AS corr
FROM m
"""


def q_sequence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup over events-as-dialogues: each
    user's ORDERED event_type sequence fingerprinted with
    position-tagged hashes whose per-key combine is a plain (map-side
    combinable) SUM mod 2^60 — the text/items never ride the shuffle.
    hash_fn='md5' is the cross-engine variant, so DuckDB re-derives
    every fingerprint bit-for-bit
    (operators/transcripts.py:sequence_fingerprints)."""
    from tablecloth_time_spark.operators.transcripts import (
        sequence_fingerprints,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    fps = sequence_fingerprints(
        ev, "user_id", ["ts", "event_id"], "event_type", hash_fn="md5"
    )
    dup_w = Window.partitionBy("n_items", "fingerprint")
    return fps.select(
        "user_id", "n_items", "fingerprint",
        F.count(F.lit(1)).over(dup_w).alias("dup_count"),
    )


SQL_SEQUENCE_DEDUP = """
WITH o AS (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - 1 AS idx,
         event_type
  FROM events
),
h AS (
  SELECT user_id,
         CAST(('0x' || substring(
             md5(CAST(idx AS VARCHAR) || ':' || COALESCE(event_type, chr(0))),
             1, 15)) AS BIGINT) AS hv
  FROM o
),
f AS (
  SELECT user_id,
         COUNT(*) AS n_items,
         CAST(SUM(hv) % 1152921504606846976 AS BIGINT) AS fingerprint
  FROM h GROUP BY user_id
)
SELECT user_id, n_items, fingerprint,
       COUNT(*) OVER (PARTITION BY n_items, fingerprint) AS dup_count
FROM f
"""


def q_counter_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus increase at rollup granularity: per-user hourly total
    of reset-aware counter deltas. ONE Exchange — the (user, bucket)
    aggregate's clustering is satisfied by the lag window's partitioning
    on user alone (operators/counters.py:counter_increase)."""
    from tablecloth_time_spark.operators.counters import counter_increase

    ev = _t(spark, sf_dir, "events")
    out = counter_increase(
        ev, "user_id", "ts", "value", 1, "hour", order_cols=["event_id"]
    )
    return out.select(
        "user_id", "bucket",
        F.round("increase", 6).alias("increase"),
        "n_samples",
    )


SQL_COUNTER_INCREASE = """
WITH d AS (
  SELECT user_id, ts,
         lag(value) OVER w AS prev,
         value - lag(value) OVER w AS raw,
         value
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, date_trunc('hour', ts) AS bucket,
       ROUND(SUM(CASE WHEN prev IS NULL THEN NULL
                      WHEN raw < 0 THEN value ELSE raw END), 6) AS increase,
       COUNT(*) AS n_samples
FROM d GROUP BY 1, 2
"""


def q_budget_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget context trim: each user's longest event PREFIX (by
    ts, event_id) whose cumulative props length fits 300 — one running
    ROWS-frame sum + a filter, all-integer so the oracle is exact
    (operators/transcripts.py:budget_prefix)."""
    from tablecloth_time_spark.operators.transcripts import budget_prefix

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.length("props").alias("n_tokens")
    )
    out = budget_prefix(ev, "user_id", ["ts", "event_id"], "n_tokens", 300)
    return out.select("user_id", "event_id", "ts", "cum_cost")


SQL_BUDGET_PREFIX = """
WITH c AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(length(props)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_cost
  FROM events
)
SELECT user_id, event_id, ts, cum_cost FROM c WHERE cum_cost <= 300
"""


def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB shape-preserving downsample (Steinarsson 2013) of each event
    type's hourly-count series to 20 points. The series is all-integer
    (hour-boundary epoch millis, event counts), so every centroid mean
    is an exact sum over integers followed by ONE division — bit-equal
    between numpy's pairwise and DuckDB's sequential summation — and the
    triangle areas reduce to identical IEEE op sequences on both engines;
    the oracle re-derives the full sequential selection with a recursive
    CTE over the 18 middle buckets (operators/downsample.py:lttb_select,
    reference adjust-frequency/down-sample family)."""
    from tablecloth_time_spark.operators.downsample import lttb_downsample

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", T.down_to_nearest("ts", 1, "hour").alias("b")
    ).agg(F.count(F.lit(1)).cast("double").alias("value"))
    out = lttb_downsample(hourly, "event_type", "b", "value", n_out=20)
    return out.select("event_type", "ts_ms", "value")


# n_out = 20: edges k=0..18 are numpy linspace(1, n-1, 19) truncated to
# int64 — FLOOR(1 + k*step) with the forced exact endpoint at k=18; the
# recursive member runs kernel iterations i=0..17, each picking the
# max-triangle-area point of bucket [lo, hi) against the previously kept
# point and the next bucket's centroid (first max wins, = np.argmax).
SQL_LTTB_DOWNSAMPLE = """
WITH RECURSIVE
h AS (
  SELECT event_type,
         epoch_ms(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS ts_ms,
         CAST(COUNT(*) AS DOUBLE) AS value
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT event_type, ts_ms, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts_ms) - 1 AS rn
  FROM h
),
arr AS (
  SELECT event_type,
         list(CAST(ts_ms AS DOUBLE) ORDER BY ts_ms) AS t,
         list(value ORDER BY ts_ms) AS v,
         COUNT(*) AS n
  FROM p GROUP BY 1
),
sel AS (
  SELECT event_type, t, v, n, 0 AS i, CAST(0 AS BIGINT) AS a FROM arr
  UNION ALL
  SELECT event_type, t, v, n, i + 1,
         CASE WHEN hi > lo
              THEN lo + CAST(list_position(areas, list_max(areas)) AS BIGINT) - 1
              ELSE lo END
  FROM (
    SELECT event_type, t, v, n, i, lo, hi,
           list_transform(range(lo, hi), j ->
             abs((t[a + 1] - cx) * (v[j + 1] - v[a + 1])
               - (t[a + 1] - t[j + 1]) * (cy - v[a + 1]))) AS areas
    FROM (
      SELECT event_type, t, v, n, i, a, lo, hi,
             CASE WHEN nhi > nlo
                  THEN list_sum(list_slice(t, nlo + 1, nhi)) / (nhi - nlo)
                  ELSE t[n] END AS cx,
             CASE WHEN nhi > nlo
                  THEN list_sum(list_slice(v, nlo + 1, nhi)) / (nhi - nlo)
                  ELSE v[n] END AS cy
      FROM (
        SELECT event_type, t, v, n, i, a,
               CAST(FLOOR(1.0 + i * ((CAST(n AS DOUBLE) - 2.0) / 18.0))
                    AS BIGINT) AS lo,
               CASE WHEN i + 1 = 18 THEN n - 1
                    ELSE CAST(FLOOR(1.0 + (i + 1) * ((CAST(n AS DOUBLE) - 2.0) / 18.0))
                              AS BIGINT) END AS hi,
               CASE WHEN i + 1 = 18 THEN n - 1
                    ELSE CAST(FLOOR(1.0 + (i + 1) * ((CAST(n AS DOUBLE) - 2.0) / 18.0))
                              AS BIGINT) END AS nlo,
               CASE WHEN i = 17 THEN n
                    WHEN i + 2 = 18 THEN n - 1
                    ELSE CAST(FLOOR(1.0 + (i + 2) * ((CAST(n AS DOUBLE) - 2.0) / 18.0))
                              AS BIGINT) END AS nhi
        FROM sel WHERE i < 18
      )
    )
  )
),
idx AS (
  SELECT event_type, a FROM sel
  UNION
  SELECT event_type, n - 1 FROM arr
)
SELECT p.event_type, CAST(p.ts_ms AS BIGINT) AS ts_ms, p.value
FROM p JOIN idx ON p.event_type = idx.event_type AND p.rn = idx.a
"""


def q_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time spent in each event_type state per (user, hour) under LOCF
    semantics — lead-window segments exploded to the hourly buckets they
    overlap, clipped, then ONE map-side-combined sum
    (operators/counters.py:state_durations, TimescaleDB state_agg
    shape). All-integer millisecond arithmetic, so the oracle is exact."""
    from tablecloth_time_spark.operators.counters import state_durations

    ev = _t(spark, sf_dir, "events")
    out = state_durations(
        ev, "user_id", "ts", "event_type", 1, "hour", order_cols=["event_id"]
    )
    return out.select("user_id", "bucket", "event_type", "duration_ms")


SQL_STATE_DURATIONS = """
WITH seg AS (
  SELECT user_id, event_type,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS s,
         LEAD(epoch_ms(CAST(ts AS TIMESTAMP))) OVER (
             PARTITION BY user_id
             ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id) AS e
  FROM events
),
x AS (
  SELECT user_id, event_type, s, e,
         UNNEST(range(s // 3600000, (e - 1) // 3600000 + 1)) AS b
  FROM seg WHERE e IS NOT NULL AND e > s
)
SELECT user_id,
       make_timestamp(b * 3600000 * 1000) AS bucket,
       event_type,
       CAST(SUM(LEAST(e, (b + 1) * 3600000) - GREATEST(s, b * 3600000))
            AS BIGINT) AS duration_ms
FROM x GROUP BY 1, 2, 3
"""


def q_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram per (event_type, hour) with the
    Prometheus-style cumulative count — one map-side-combined hash
    aggregate plus a window over the tiny histogram frame
    (operators/stats.py:histogram_rollup). Counts are integers; bin
    edges are exact multiples of the bin width."""
    from tablecloth_time_spark.operators.stats import histogram_rollup

    ev = _t(spark, sf_dir, "events")
    out = histogram_rollup(
        ev, ["event_type"], "ts", "value", 1, "hour",
        lo=0.0, hi=1000.0, n_bins=20, cumulative=True,
    )
    return out.select(
        "event_type", "bucket", "bin", "n", "bin_lo", "bin_hi", "cum_n"
    )


SQL_HISTOGRAM_ROLLUP = """
WITH h AS (
  SELECT event_type,
         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
         CAST(LEAST(19, GREATEST(0, FLOOR((value - 0.0) / 50.0))) AS INT) AS bin,
         COUNT(*) AS n
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2, 3
)
SELECT event_type, bucket, bin, n,
       CAST(0.0 + bin * 50.0 AS DOUBLE) AS bin_lo,
       CAST(0.0 + (bin + 1) * 50.0 AS DOUBLE) AS bin_hi,
       CAST(SUM(n) OVER (
           PARTITION BY event_type, bucket ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_n
FROM h
"""


def q_rollup_tiers_zoned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-tier GROUPING SETS rollup in the Europe/Berlin LOCAL calendar
    (the reference's floor-to-* {:zone} option on the one-pass tier path,
    operators/rollup.py:rollup_tiers_long(zone=)): day/month/year tiers
    over the orders table, whose 1995-2001 span crosses every March and
    October DST transition — daily buckets land at 23:00 UTC in winter
    and 22:00 UTC in summer, and the oracle re-derives the same local
    floors via DuckDB's timezone() conversions."""
    from tablecloth_time_spark.operators.rollup import rollup_tiers_long

    orders = _t(spark, sf_dir, "orders")
    out = rollup_tiers_long(
        orders,
        ["o_orderpriority"],
        "o_orderdate",
        {"n": ("count", "o_orderkey"), "s": ("sum", "o_totalprice")},
        tiers={"day": (1, "day"), "month": (1, "month"), "year": (1, "year")},
        order_cols=["o_orderdate", "o_orderkey"],
        zone="Europe/Berlin",
    )
    return out.select(
        "tier", "o_orderpriority", "bucket", "n", F.round("s", 4).alias("s")
    )


SQL_ROLLUP_TIERS_ZONED = """
WITH o AS (
  SELECT o_orderpriority, o_totalprice,
         timezone('Europe/Berlin',
                  timezone('UTC', CAST(o_orderdate AS TIMESTAMP))) AS loc
  FROM orders
)
SELECT 'day' AS tier, o_orderpriority,
       timezone('UTC', timezone('Europe/Berlin', date_trunc('day', loc))) AS bucket,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS s
FROM o GROUP BY 2, 3
UNION ALL
SELECT 'month', o_orderpriority,
       timezone('UTC', timezone('Europe/Berlin', date_trunc('month', loc))),
       COUNT(*), ROUND(SUM(o_totalprice), 4)
FROM o GROUP BY 2, 3
UNION ALL
SELECT 'year', o_orderpriority,
       timezone('UTC', timezone('Europe/Berlin', date_trunc('year', loc))),
       COUNT(*), ROUND(SUM(o_totalprice), 4)
FROM o GROUP BY 2, 3
"""


def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic representation (Lin/Keogh/Wei/Lonardi 2003) of each
    event type's hourly-count series: 16 PAA segments, alphabet a-d.
    The series is all-integer, so every segment sum is an exact BIGINT
    and each derived float (paa, mean, var, z) is a short fixed IEEE op
    sequence over exact integers — byte-equal across engines with no
    rounding, the LTTB determinism argument
    (operators/symbolic.py:paa_sax, reference
    adjust-frequency/down-sample family)."""
    from tablecloth_time_spark.operators.symbolic import paa_sax

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", T.down_to_nearest("ts", 1, "hour").alias("b")
    ).agg(F.count(F.lit(1)).alias("v"))
    out = paa_sax(
        hourly, "event_type", "b", "v", n_segments=16, alphabet_size=4
    )
    return out.select("event_type", "segment", "seg_n", "paa", "z", "symbol")


def q_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAX words: one 16-letter string per event type (symbols in
    segment order) — the classic cheap fingerprint for series-level
    motif grouping/near-dup candidate filtering
    (operators/symbolic.py:sax_words)."""
    from tablecloth_time_spark.operators.symbolic import sax_words

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", T.down_to_nearest("ts", 1, "hour").alias("b")
    ).agg(F.count(F.lit(1)).alias("v"))
    out = sax_words(
        hourly, "event_type", "b", "v", n_segments=16, alphabet_size=4
    )
    return out.select("event_type", "n_rows", "word")


def _sql_sax_base() -> str:
    """Shared CTE chain re-deriving paa_sax's exact op sequence in DuckDB:
    exact BIGINT sums -> the identical double divisions/sqrt -> breakpoint
    comparison against the same string-cast double literals."""
    from tablecloth_time_spark.operators.symbolic import sax_breakpoints

    idx = " + ".join(
        f"CAST(z > {_dlit(b)} AS INT)" for b in sax_breakpoints(4)
    )
    return f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS b, COUNT(*) AS v
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b) - 1 AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM h
),
s AS (
  SELECT event_type, CAST(FLOOR(rn * 16 / n) AS BIGINT) AS segment,
         COUNT(*) AS seg_n, SUM(v) AS sv, SUM(v * v) AS sv2
  FROM r GROUP BY 1, 2
),
t AS (
  SELECT event_type, segment, seg_n, sv,
         CAST(SUM(seg_n) OVER w AS DOUBLE) AS nd,
         CAST(SUM(sv) OVER w AS DOUBLE) AS s1d,
         CAST(SUM(sv2) OVER w AS DOUBLE) AS s2d
  FROM s WINDOW w AS (PARTITION BY event_type)
),
u AS (
  SELECT event_type, segment, seg_n,
         CAST(sv AS DOUBLE) / seg_n AS paa,
         s1d / nd AS mean,
         s2d / nd - (s1d / nd) * (s1d / nd) AS var
  FROM t
),
zc AS (
  SELECT event_type, segment, CAST(seg_n AS BIGINT) AS seg_n, paa,
         CASE WHEN var > 0 THEN (paa - mean) / sqrt(var)
              ELSE 0.0 END AS z
  FROM u
),
sym AS (
  SELECT event_type, segment, seg_n, paa, z,
         substr('abcdefghijklmnopqrstuvwxyz', ({idx}) + 1, 1) AS symbol
  FROM zc
)
"""


def _sql_sax_symbols() -> str:
    return (
        _sql_sax_base()
        + "SELECT event_type, segment, seg_n, paa, z, symbol FROM sym"
    )


def _sql_sax_words() -> str:
    return _sql_sax_base() + """
SELECT event_type, CAST(SUM(seg_n) AS BIGINT) AS n_rows,
       string_agg(symbol, '' ORDER BY segment) AS word
FROM sym GROUP BY 1
"""


def q_tier_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier snapshot diff: the hourly (event_type) rollup materialized
    BEFORE the final 36 hours vs over the full table — every bucket the
    tail's data added or changed, with old/new values side-by-side
    (operators/diff.py:tier_diff; the audit twin of the
    plans/continuous.py incremental refresh). The cutoff (max ts minus
    36 hours, re-aligned to the half-hour) is derived in the query and
    deliberately NOT hour-aligned, so the boundary hour is partially
    filled and the diff exercises the 'changed' class as well as
    'added' at sf0.01 and above (sf0.001 events are too sparse to
    straddle the half-hour)."""
    from tablecloth_time_spark.operators.diff import tier_diff

    ev = _t(spark, sf_dir, "events")
    cut = ev.agg(
        (
            F.date_trunc("hour", F.max("ts") - F.expr("INTERVAL 36 HOURS"))
            + F.expr("INTERVAL 30 MINUTES")
        ).alias("cut")
    )
    old_src = ev.join(F.broadcast(cut)).filter(F.col("ts") < F.col("cut"))

    def rollup(src: DataFrame) -> DataFrame:
        return src.groupBy(
            "event_type", T.down_to_nearest("ts", 1, "hour").alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("s"),
        )

    out = tier_diff(
        rollup(old_src), rollup(ev), ["event_type", "bucket"], ["n", "s"]
    )
    return out.select(
        "event_type", "bucket", "old_n", "new_n", "old_s", "new_s", "change"
    )


SQL_TIER_DIFF = """
WITH cut AS (
  SELECT date_trunc('hour', MAX(ts) - INTERVAL 36 HOUR)
         + INTERVAL 30 MINUTE AS c
  FROM events
),
o AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         COUNT(*) AS n, ROUND(SUM(value), 4) AS s
  FROM events, cut WHERE ts < c GROUP BY 1, 2
),
nw AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         COUNT(*) AS n, ROUND(SUM(value), 4) AS s
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT COALESCE(o.event_type, nw.event_type) AS event_type,
         COALESCE(o.bucket, nw.bucket) AS bucket,
         o.n AS old_n, nw.n AS new_n, o.s AS old_s, nw.s AS new_s,
         CASE WHEN o.event_type IS NULL THEN 'added'
              WHEN nw.event_type IS NULL THEN 'removed'
              WHEN o.n IS NOT DISTINCT FROM nw.n
                   AND o.s IS NOT DISTINCT FROM nw.s THEN 'unchanged'
              ELSE 'changed' END AS change
  FROM o FULL OUTER JOIN nw
    ON o.event_type = nw.event_type AND o.bucket = nw.bucket
)
SELECT * FROM j WHERE change <> 'unchanged'
"""


def q_dtw_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise DTW distances between the event types' daily-count
    series (operators/dtw.py:dtw_distances; Sakoe-Chiba 1978 /
    Berndt-Clifford 1994). All-integer daily counts make every local
    cost |a_i - b_j| exact, and the DP applies one add + one 3-way min
    per cell in a fixed order, so the DuckDB oracle — a recursive CTE
    marching the SAME anti-diagonal wavefront the Arrow kernel
    vectorizes — reproduces the distance byte-for-byte."""
    from tablecloth_time_spark.operators.dtw import dtw_distances

    ev = _t(spark, sf_dir, "events")
    out = dtw_distances(ev, "event_type", "ts", "value", 1, "day",
                        agg="count")
    return out.select("key_a", "key_b", "n_a", "n_b", "dtw", "dtw_norm")


# Wavefront DP: cell (i, j) of anti-diagonal dn = i + j depends only on
# diagonals dn-1 (up/left) and dn-2 (diag), so the recursion carries the
# last two diagonals as full-length-n_a lists (infinity outside the
# diagonal's valid row range) and terminates after n_a + n_b - 1 steps.
SQL_DTW_DAILY = """
WITH RECURSIVE
d AS (
  SELECT event_type, date_trunc('day', ts) AS b,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
),
arr AS (
  SELECT event_type AS k, list(v ORDER BY b) AS vals, COUNT(*) AS n
  FROM d GROUP BY 1
),
pairs AS (
  SELECT a.k AS key_a, b.k AS key_b, a.vals AS va, b.vals AS vb,
         a.n AS n_a, b.n AS n_b
  FROM arr a, arr b WHERE a.k < b.k
),
dp AS (
  SELECT key_a, key_b, va, vb, n_a, n_b, 0 AS dn,
         list_transform(range(0, n_a), i -> 'infinity'::DOUBLE) AS prev2,
         list_transform(range(0, n_a), i ->
           CASE WHEN i = 0 THEN abs(va[1] - vb[1])
                ELSE 'infinity'::DOUBLE END) AS prev
  FROM pairs
  UNION ALL
  SELECT key_a, key_b, va, vb, n_a, n_b, dn + 1, prev,
         list_transform(range(0, n_a), i ->
           CASE WHEN i >= GREATEST(0, dn + 1 - n_b + 1)
                 AND i <= LEAST(dn + 1, n_a - 1)
                THEN abs(va[i + 1] - vb[dn + 2 - i])
                     + LEAST(
                         CASE WHEN i >= 1 THEN prev[i]
                              ELSE 'infinity'::DOUBLE END,
                         CASE WHEN dn + 1 - i >= 1 THEN prev[i + 1]
                              ELSE 'infinity'::DOUBLE END,
                         CASE WHEN i >= 1 AND dn + 1 - i >= 1 THEN prev2[i]
                              ELSE 'infinity'::DOUBLE END)
                ELSE 'infinity'::DOUBLE END) AS prev
  FROM dp WHERE dn < n_a + n_b - 2
)
SELECT key_a, key_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       prev[n_a] AS dtw,
       prev[n_a] / CAST(n_a + n_b AS DOUBLE) AS dtw_norm
FROM dp WHERE dn = n_a + n_b - 2
"""


def q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join matrix profile (Yeh et al. 2016) of each event type's
    daily-count series, window m=7 (weekly shape), unnormalized
    Euclidean distance (operators/matrix_profile.py). All-integer
    inputs make every squared difference and windowed sum an exact
    integer in float64 (order-independent), so distances AND the
    (distance, index)-tie-broken neighbor indices are bit-reproducible
    — the DuckDB oracle just scores every window pair brute-force and
    takes the lexicographic minimum."""
    from tablecloth_time_spark.operators.matrix_profile import matrix_profile

    ev = _t(spark, sf_dir, "events")
    out = matrix_profile(
        ev, "event_type", "ts", "value", 1, "day", m=7,
        normalize=False, agg="count",
    )
    return out.select("event_type", "w_idx", "w_start", "mp", "mp_idx")


SQL_MATRIX_PROFILE = """
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS b,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
),
arr AS (
  SELECT event_type AS k, list(v ORDER BY b) AS vals,
         list(b ORDER BY b) AS bs, COUNT(*) AS n
  FROM d GROUP BY 1
),
win AS (
  SELECT k, vals, bs, n, UNNEST(range(0, n - 7 + 1)) AS i
  FROM arr WHERE n >= 7
),
pair AS (
  SELECT w1.k, w1.i, w2.i AS j, w1.bs,
         sqrt(list_sum(list_transform(range(0, 7), t ->
           (w1.vals[w1.i + t + 1] - w1.vals[w2.i + t + 1])
           * (w1.vals[w1.i + t + 1] - w1.vals[w2.i + t + 1])))) AS mp
  FROM win w1 JOIN win w2 ON w1.k = w2.k AND abs(w1.i - w2.i) >= 3
),
best AS (
  SELECT k, i, bs, mp, j,
         row_number() OVER (PARTITION BY k, i ORDER BY mp, j) AS rn
  FROM pair
)
SELECT k AS event_type, CAST(i AS BIGINT) AS w_idx, bs[i + 1] AS w_start,
       mp, CAST(j AS BIGINT) AS mp_idx
FROM best WHERE rn = 1
"""


def q_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness profile per user: gap mean/std/CV and
    the Goh-Barabasi burstiness coefficient B = (sigma-mu)/(sigma+mu)
    over each user's event stream — descriptive stats on the TIME AXIS
    itself (operators/stats.py:arrival_stats). ONE window Exchange on
    the user key whose clustering the per-user aggregate reuses."""
    from tablecloth_time_spark.operators.stats import arrival_stats

    ev = _t(spark, sf_dir, "events")
    out = arrival_stats(ev, ["user_id"], "ts", order_cols=["event_id"])
    return out.select(
        "user_id", "n_events", "n_gaps",
        F.round("mean_gap_s", 6).alias("mean_gap_s"),
        F.round("std_gap_s", 6).alias("std_gap_s"),
        F.round("cv", 6).alias("cv"),
        F.round("burstiness", 6).alias("burstiness"),
    )


SQL_ARRIVAL_STATS = """
WITH g AS (
  SELECT user_id,
         (epoch_ms(CAST(ts AS TIMESTAMP))
          - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w) / 1000.0 AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id)
)
SELECT user_id,
       COUNT(*) AS n_events,
       COUNT(gap) AS n_gaps,
       ROUND(AVG(gap), 6) AS mean_gap_s,
       ROUND(stddev_samp(gap), 6) AS std_gap_s,
       ROUND(stddev_samp(gap) / NULLIF(AVG(gap), 0), 6) AS cv,
       ROUND((stddev_samp(gap) - AVG(gap))
             / NULLIF(stddev_samp(gap) + AVG(gap), 0), 6) AS burstiness
FROM g GROUP BY 1
"""


def q_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (bits) of the event-type distribution
    plus the [0,1]-normalized diversity — the class-balance /
    behavioral-diversity training-data quality signal
    (operators/stats.py:categorical_entropy). Two mergeable hash
    aggregates via H = log2(n) - sum(c*log2(c))/n; only
    (key, category, count) ever shuffles."""
    from tablecloth_time_spark.operators.stats import categorical_entropy

    ev = _t(spark, sf_dir, "events")
    out = categorical_entropy(ev, ["user_id"], "event_type")
    return out.select(
        "user_id", "n_rows", "n_distinct",
        F.round("entropy_bits", 6).alias("entropy_bits"),
        F.round("norm_entropy", 6).alias("norm_entropy"),
    )


SQL_TYPE_ENTROPY = """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       COUNT(*) AS n_distinct,
       ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy_bits,
       ROUND(CASE WHEN COUNT(*) > 1
                  THEN (log2(SUM(c)) - SUM(c * log2(c)) / SUM(c))
                       / log2(CAST(COUNT(*) AS DOUBLE))
                  ELSE 0.0 END, 6) AS norm_entropy
FROM c GROUP BY 1
"""


def q_role_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-pattern mining applied with generic role semantics:
    every length-3 window of each user's ordered event_type sequence
    (role trigram), its occurrence count, distinct-conversation count
    and corpus share (operators/transcripts.py:role_ngrams). One window
    Exchange materializes the lags; the per-gram aggregate shuffles only
    (gram, conv) pairs; the share window runs over the |vocab|^3
    aggregate frame — a constant, not a data scale."""
    from tablecloth_time_spark.operators.transcripts import role_ngrams

    ev = _t(spark, sf_dir, "events")
    out = role_ngrams(ev, "user_id", ["ts", "event_id"], "event_type", n=3)
    return out.select(
        "ngram", "n_occurrences", "n_conversations",
        F.round("share", 6).alias("share"),
    )


SQL_ROLE_NGRAMS = """
WITH o AS (
  SELECT user_id,
         lag(event_type, 2) OVER w AS p0,
         lag(event_type, 1) OVER w AS p1,
         event_type AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
a AS (
  SELECT p0 || '>' || p1 || '>' || p2 AS ngram,
         COUNT(*) AS n_occurrences,
         COUNT(DISTINCT user_id) AS n_conversations
  FROM o
  WHERE p0 IS NOT NULL AND p1 IS NOT NULL AND p2 IS NOT NULL
  GROUP BY 1
)
SELECT ngram, n_occurrences, n_conversations,
       ROUND(n_occurrences / SUM(n_occurrences) OVER (), 6) AS share
FROM a
"""


def q_compressed_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice served FROM the compressed tier, oracle-checked end-to-end:
    rollup the events to a minute tier, encode it into Gorilla/DoD daily
    blocks, then answer an inclusive [from, to] slice with
    read_blocks_slice (operators/compress.py) — whole blocks outside
    the range are dropped by a plain block_start predicate BEFORE any
    decode, so only the ~7 touched conversation-days of 30 decode, and
    the exact per-point predicate is applied after. The blocks here are
    computed in the plan, not read from a table, so nothing skips files;
    and a stored block table would not skip them either on block_start,
    since Spark pushes no filter into INT96 timestamp columns. DuckDB
    computes the same minute rollup directly from raw rows and filters
    the same range: a hash match proves the compressed serving path is
    bit-equal to the raw path (the reference's slice semantics,
    /root/reference/src/tablecloth/time/api/slice.clj:76-137, over the
    compressed representation)."""
    from tablecloth_time_spark.operators.compress import (
        compress_series,
        read_blocks_slice,
    )

    ev = _t(spark, sf_dir, "events")
    minute = rollup(
        ev, ["user_id"], "ts", 1, "minute",
        {"n": ("count", "event_id"), "s": ("sum", "value")},
        order_cols=["ts", "event_id"],
    )
    blocks = compress_series(
        minute.withColumn("user_id", F.col("user_id").cast("string")),
        ts_col="bucket",
        value_cols={"n": "int", "s": "float"},
        key_col="user_id",
        block_unit="day",
    )
    pts = read_blocks_slice(
        blocks, {"n": "int", "s": "float"},
        "2024-01-08", "2024-01-14 06:30:00",
        block_unit="day",
    )
    return pts.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        F.col("ts").alias("bucket"),
        "n",
        F.round("s", 6).alias("s"),
    )


SQL_COMPRESSED_SLICE = """
SELECT * FROM (
  SELECT user_id,
         date_trunc('minute', CAST(ts AS TIMESTAMP)) AS bucket,
         COUNT(*) AS n, ROUND(SUM(value), 6) AS s
  FROM events
  GROUP BY 1, 2
)
WHERE bucket >= TIMESTAMP '2024-01-08 00:00:00'
  AND bucket <= TIMESTAMP '2024-01-14 06:30:00'
"""


def q_tier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier-based retention expiry, oracle-checked end-to-end (the last
    north-star pipeline stage to earn a SQL-oracle slot; previously
    pytest-only). A three-tier continuous aggregate (minute/hour/day)
    refreshes once from the full events snapshot, then expire() drops
    day-partitions older than each tier's horizon as of the data's last
    day (minute keeps 7 days, hour keeps 14, day keeps forever) —
    metadata-only partition drops through the TierStore seam
    (plans/continuous.py:327). The surviving state is summarized as
    per-tier per-p_date row and event counts; DuckDB re-derives the
    identical summary from raw rows with the same horizons, so a hash
    match proves exactly the right partitions survived AND their content
    is untouched."""
    import atexit
    import shutil
    import tempfile

    from tablecloth_time_spark.plans.continuous import (
        ContinuousAggregate,
        TierSpec,
    )
    from tablecloth_time_spark.plans.snapshots import SnapshotTable

    ev = _t(spark, sf_dir, "events")
    root = os.path.join(tempfile.gettempdir(), "tts_ret_workdir")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src = SnapshotTable(spark, f"{root}/src")
    ca = ContinuousAggregate(
        spark,
        src,
        f"{root}/tiers",
        keys=["user_id"],
        ts_col="ts",
        aggs={"n": ("count", "event_id")},
        tiers=(
            TierSpec("minute", 1, "minute", retention_days=7),
            TierSpec("hour", 1, "hour", retention_days=14),
            TierSpec("day", 1, "day", retention_days=None),
        ),
        order_cols=["ts", "event_id"],
    )
    src.append(ev)
    ca.refresh()
    ca.expire("2024-01-30")
    parts = []
    for tier in ("minute", "hour", "day"):
        t = ca.read_tier(tier).select(
            F.lit(tier).alias("tier"),
            F.date_format("bucket", "yyyy-MM-dd").alias("p_date"),
            "n",
        )
        parts.append(
            t.groupBy("tier", "p_date").agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n").alias("n_events"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


SQL_TIER_RETENTION = """
WITH m AS (
  SELECT user_id, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS bucket,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
h AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS bucket,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT 'minute' AS tier, strftime(bucket, '%Y-%m-%d') AS p_date,
       COUNT(*) AS n_rows, CAST(SUM(n) AS BIGINT) AS n_events
FROM m WHERE strftime(bucket, '%Y-%m-%d') >= '2024-01-23' GROUP BY 1, 2
UNION ALL
SELECT 'hour' AS tier, strftime(bucket, '%Y-%m-%d') AS p_date,
       COUNT(*) AS n_rows, CAST(SUM(n) AS BIGINT) AS n_events
FROM h WHERE strftime(bucket, '%Y-%m-%d') >= '2024-01-16' GROUP BY 1, 2
UNION ALL
SELECT 'day' AS tier, strftime(bucket, '%Y-%m-%d') AS p_date,
       COUNT(*) AS n_rows, CAST(SUM(n) AS BIGINT) AS n_events
FROM d GROUP BY 1, 2
"""


def q_series_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tsfresh/catch22-style per-series feature battery
    (operators/features.py:series_features): population moments from
    explicit power sums (Spark's and DuckDB's built-in skewness/kurtosis
    use different bias corrections, so the formulas are spelled out and
    mirrored), lag-1 sample autocorrelation, absolute-change features,
    mean-crossing count and longest strike above the mean — the standard
    series -> fixed-width feature vector step before clustering or
    quality-filtering series at corpus scale. One raw-data Exchange (the
    per-key window).

    Exactness note: the driver tables carry 2-decimal values, and
    n-normalized grid sums (mean, mean_abs_change, mean_square) land
    EXACTLY on ROUND(x, 6) half-boundaries often enough that
    cross-engine summation-order wobble flips ties (observed once in
    1,500 users at sf0.1). The query therefore feeds the operator the
    integer CENT scale (round(value*100)): every power/lag sum that
    feeds a grid-aligned output stays below 2^53 and is exact, so both
    engines perform identical IEEE ops on identical inputs and the
    whole battery is deterministically byte-equal (S3/S4 may exceed
    2^53 but only feed scale-free ratios, where the ~1e-13 wobble sits
    seven orders below the rounding boundary). skewness / kurtosis /
    autocorr1 / crossings / strikes are affine-invariant, so the unit
    change is display-only; mean/std/energy are in cents."""
    from tablecloth_time_spark.operators.features import series_features

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_c", F.round(F.col("value") * 100, 0)
    )
    out = series_features(ev, ["user_id"], "ts", "value_c",
                          order_cols=["event_id"])
    return out.select(
        "user_id",
        "n",
        F.round("mean", 6).alias("mean"),
        F.round("std_pop", 6).alias("std_pop"),
        F.round("skewness", 6).alias("skewness"),
        F.round("kurtosis", 6).alias("kurtosis"),
        F.round(F.col("abs_energy") / F.col("n"), 6).alias("mean_square"),
        F.round("mean_abs_change", 6).alias("mean_abs_change"),
        F.round("autocorr1", 6).alias("autocorr1"),
        "n_mean_crossings",
        "longest_above",
    )


SQL_SERIES_FEATURES = """
WITH v AS (
  SELECT user_id, ts, event_id,
         ROUND(CAST(value AS DOUBLE) * 100, 0) AS x
  FROM events
),
s0 AS (
  SELECT user_id, ts, event_id, x,
         lag(x) OVER w AS prev,
         avg(x) OVER (PARTITION BY user_id) AS mu
  FROM v
  WHERE x IS NOT NULL AND NOT isnan(x)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, x, prev, mu,
         CASE WHEN x > mu THEN 1 ELSE 0 END AS above,
         SUM(CASE WHEN prev IS NULL OR (x > mu) <> (prev > mu)
              THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM s0
),
m AS (
  SELECT user_id,
         COUNT(*) AS n,
         CAST(COUNT(*) AS DOUBLE) AS nd,
         SUM(x) AS s1, SUM(x*x) AS s2, SUM(x*x*x) AS s3,
         SUM(x*x*x*x) AS s4,
         SUM(x*prev) AS p,
         SUM(CASE WHEN prev IS NOT NULL THEN x END) AS t1,
         SUM(prev) AS t2,
         CAST(COUNT(prev) AS DOUBLE) AS cnt,
         SUM(ABS(x - prev)) AS asc_,
         CAST(SUM(CASE WHEN (x - mu) * (prev - mu) < 0.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_crossings
  FROM s GROUP BY 1
),
runs AS (
  SELECT user_id, run, COUNT(*) AS len FROM s WHERE above = 1 GROUP BY 1, 2
),
la AS (
  SELECT user_id, MAX(len) AS longest_above FROM runs GROUP BY 1
)
SELECT m.user_id, m.n,
       ROUND(s1/nd, 6) AS mean,
       ROUND(sqrt(s2/nd - (s1/nd)*(s1/nd)), 6) AS std_pop,
       ROUND(CASE WHEN sqrt(s2/nd - (s1/nd)*(s1/nd))
                       * sqrt(s2/nd - (s1/nd)*(s1/nd))
                       * sqrt(s2/nd - (s1/nd)*(s1/nd)) = 0.0 THEN NULL
             ELSE (s3/nd - 3.0*(s1/nd)*(s2/nd) + 2.0*(s1/nd)*(s1/nd)*(s1/nd))
                  / (sqrt(s2/nd - (s1/nd)*(s1/nd))
                     * sqrt(s2/nd - (s1/nd)*(s1/nd))
                     * sqrt(s2/nd - (s1/nd)*(s1/nd))) END, 6) AS skewness,
       ROUND(CASE WHEN (s2/nd - (s1/nd)*(s1/nd))
                       * (s2/nd - (s1/nd)*(s1/nd)) = 0.0 THEN NULL
             ELSE (s4/nd - 4.0*(s1/nd)*(s3/nd)
                   + 6.0*(s1/nd)*(s1/nd)*(s2/nd)
                   - 3.0*(s1/nd)*(s1/nd)*(s1/nd)*(s1/nd))
                  / ((s2/nd - (s1/nd)*(s1/nd))
                     * (s2/nd - (s1/nd)*(s1/nd))) END, 6) AS kurtosis,
       ROUND(s2/nd, 6) AS mean_square,
       ROUND(CASE WHEN cnt = 0.0 THEN NULL ELSE asc_/cnt END, 6)
         AS mean_abs_change,
       ROUND(CASE WHEN s2 - nd*(s1/nd)*(s1/nd) = 0.0 THEN NULL
             ELSE (p - (s1/nd)*(t1 + t2) + cnt*(s1/nd)*(s1/nd))
                  / (s2 - nd*(s1/nd)*(s1/nd)) END, 6) AS autocorr1,
       m.n_mean_crossings,
       COALESCE(la.longest_above, 0) AS longest_above
FROM m LEFT JOIN la ON m.user_id = la.user_id
"""


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per user over daily bucket means
    (operators/features.py:theil_sen_trend): slope = exact median of all
    C(n_buckets, 2) pairwise bucket slopes, intercept = median residual
    at the series-start anchor — the outlier-robust companion to the OLS
    trend members (datetime_stats trend fit, predict_linear). Runs on
    the integer cent scale (same determinism rationale as
    series_features): bucket sums are exact, so every slope is an
    identical IEEE double in both engines and even a median landing on a
    ROUND half-boundary ties identically. DuckDB re-derives the full
    pair enumeration + quantile_cont medians."""
    from tablecloth_time_spark.operators.features import theil_sen_trend

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_c", F.round(F.col("value") * 100, 0)
    )
    out = theil_sen_trend(ev, ["user_id"], "ts", "value_c", 1, "day")
    return out.select(
        "user_id", "n_buckets", "n_pairs",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
    )


SQL_THEIL_SEN = """
WITH g AS (
  SELECT user_id,
         epoch_ms(CAST(ts AS TIMESTAMP))
           - epoch_ms(CAST(ts AS TIMESTAMP)) % 86400000 AS bms,
         SUM(ROUND(CAST(value AS DOUBLE) * 100, 0)) AS s,
         COUNT(*) AS c
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
  GROUP BY 1, 2
),
gx AS (
  SELECT user_id,
         CAST(bms - MIN(bms) OVER (PARTITION BY user_id) AS DOUBLE)
           / 86400000 AS x,
         s / c AS y
  FROM g
),
p AS (
  SELECT a.user_id AS user_id, (b.y - a.y) / (b.x - a.x) AS m
  FROM gx a JOIN gx b ON a.user_id = b.user_id AND b.x > a.x
),
sl AS (
  SELECT user_id, quantile_cont(m, 0.5) AS slope, COUNT(*) AS n_pairs
  FROM p GROUP BY 1
),
r AS (
  SELECT gx.user_id AS user_id, gx.y - sl.slope * gx.x AS resid,
         sl.slope AS slope, sl.n_pairs AS n_pairs
  FROM gx JOIN sl ON gx.user_id = sl.user_id
)
SELECT user_id, COUNT(*) AS n_buckets, MAX(n_pairs) AS n_pairs,
       ROUND(MAX(slope), 6) AS slope,
       ROUND(quantile_cont(resid, 0.5), 6) AS intercept
FROM r GROUP BY 1
"""


def q_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality detection over the hourly tier
    (operators/acf.py:dominant_period): per user, the ACF-argmax lag in
    [2, 30] over hourly mean values, the peak autocorrelation, and the
    Bartlett 1.96/sqrt(n) white-noise significance verdict. DuckDB
    re-derives the full 30-lag correlogram and the row_number pick."""
    from tablecloth_time_spark.operators.acf import dominant_period

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("b")
    ).agg(F.avg("value").alias("v"))
    out = dominant_period(hourly, ["user_id"], "b", "v", max_lag=30)
    return out.select(
        "user_id", "period",
        F.round("peak_acf", 6).alias("peak_acf"),
        "n", "significant",
    )


def _sql_dominant_period(max_lag: int = 30, min_lag: int = 2) -> str:
    lags = ",\n         ".join(
        f"lag(yc, {k}) OVER w AS yc{k}" for k in range(1, max_lag + 1)
    )
    sums = ",\n         ".join(
        f"SUM(yc * yc{k}) AS n{k}" for k in range(1, max_lag + 1)
    )
    union = "\n  UNION ALL ".join(
        f"SELECT user_id, {k} AS lag, n{k} AS num, denom FROM agg"
        for k in range(min_lag, max_lag + 1)
    )
    return f"""
WITH s AS (
  SELECT user_id, date_trunc('hour', ts) AS b, AVG(value) AS v
  FROM events GROUP BY 1, 2
), st AS (
  SELECT user_id, AVG(v) AS mu, COUNT(*) AS n FROM s GROUP BY 1
), c AS (
  SELECT s.user_id, s.b, s.v - st.mu AS yc
  FROM s JOIN st USING (user_id)
), l AS (
  SELECT user_id, yc,
         {lags}
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY b)
), agg AS (
  SELECT user_id, SUM(yc * yc) AS denom,
         {sums}
  FROM l GROUP BY 1
), cand AS (
  SELECT user_id, lag, num / denom AS acf
  FROM (
  {union}
  )
  WHERE denom > 0 AND num IS NOT NULL
), top AS (
  SELECT user_id, lag AS period, acf AS peak_acf,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY acf DESC, lag ASC) AS rn
  FROM cand
)
SELECT CAST(t.user_id AS VARCHAR) AS user_id,
       CAST(t.period AS INT) AS period,
       ROUND(t.peak_acf, 6) AS peak_acf, st.n AS n,
       CAST(t.peak_acf > 1.96 / sqrt(CAST(st.n AS DOUBLE)) AS INT)
         AS significant
FROM top t JOIN st ON t.user_id = st.user_id
WHERE t.rn = 1
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user quantile winsorization of the value column
    (operators/features.py:winsorize): clamp into the user's own
    [p5, p95] band, flag clamped rows. Spark's exact percentile() and
    DuckDB's quantile_cont use the same type-7 linear interpolation and
    are byte-identical on most groups, but not all (one 1-ulp
    interpolation divergence observed in 1,500 users at sf0.1), so
    value_w carries ROUND(,6) — provably tie-safe here: with 2-decimal
    grid data and p in twentieths, every band edge is a multiple of
    1/2000 in rationals, which is never closer than 5e-7 to a
    ROUND(,6) half-boundary (odd/2e6 needs an odd numerator; 1000k/2e6
    is even), so a ~1e-15 engine wobble cannot flip a tie. Band frame
    is |users| rows and broadcasts; the clamp is a pure projection."""
    from tablecloth_time_spark.operators.features import winsorize

    ev = _t(spark, sf_dir, "events")
    out = winsorize(ev, ["user_id"], "value", 0.05, 0.95)
    return out.select(
        "event_id", "user_id", "value",
        F.round("value_w", 6).alias("value_w"),
        F.col("clipped"),
    )


SQL_WINSORIZE = """
WITH q AS (
  SELECT user_id,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
  GROUP BY 1
)
SELECT e.event_id, e.user_id, e.value,
       ROUND(CASE WHEN e.value IS NULL OR isnan(CAST(e.value AS DOUBLE))
                  THEN e.value
                  ELSE LEAST(GREATEST(e.value, q.lo), q.hi) END, 6)
         AS value_w,
       CAST(e.value < q.lo OR e.value > q.hi AS INT) AS clipped
FROM events e LEFT JOIN q ON e.user_id = q.user_id
"""


def q_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel spike filter over the hourly tier
    (operators/rolling.py:hampel_filter): centered 7-point window,
    exact interpolated median + 1.4826*MAD scale, k=3 replacement —
    the robust despiking pass a metrics pipeline runs before rollups.
    Deterministic with NO rounding: hourly means are exact-integer cent
    sums over counts (identical doubles in both engines), and the
    median/MAD interpolation arithmetic is spelled out identically on
    both sides, so flags, replacements, and pass-throughs are all
    byte-equal. DuckDB mirrors the windowed list + list_transform
    pipeline."""
    from tablecloth_time_spark.operators.rolling import hampel_filter

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_c", F.round(F.col("value") * 100, 0)
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("b")
    ).agg((F.sum("value_c") / F.count("value_c")).alias("v"))
    out = hampel_filter(hourly, ["user_id"], ["b"], "v", n=7, k=3.0)
    return out.select("user_id", "b", "v", "v_f", "is_spike")


SQL_HAMPEL = """
WITH h AS (
  SELECT user_id, date_trunc('hour', ts) AS b,
         SUM(ROUND(CAST(value AS DOUBLE) * 100, 0))
           / COUNT(ROUND(CAST(value AS DOUBLE) * 100, 0)) AS v
  FROM events GROUP BY 1, 2
),
wd AS (
  SELECT user_id, b, v,
         list_sort(list(v) OVER (
           PARTITION BY user_id ORDER BY b
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
  FROM h
),
m1 AS (
  SELECT *, len(arr) AS s, 0.5 * (len(arr) - 1) AS idx FROM wd
),
m2 AS (
  SELECT *, CAST(floor(idx) AS INT) AS lo, idx - floor(idx) AS frac
  FROM m1
),
m3 AS (
  SELECT *,
         arr[lo + 1] + (arr[LEAST(lo + 2, s)] - arr[lo + 1]) * frac AS med
  FROM m2
),
m4 AS (
  SELECT *, list_sort(list_transform(arr, e -> abs(e - med))) AS devs
  FROM m3
),
m5 AS (
  SELECT *,
         (devs[lo + 1] + (devs[LEAST(lo + 2, s)] - devs[lo + 1]) * frac)
           * 1.4826 AS mad
  FROM m4
)
SELECT user_id, b, v,
       CASE WHEN abs(v - med) > 3.0 * mad THEN med ELSE v END AS v_f,
       CAST(abs(v - med) > 3.0 * mad AS INT) AS is_spike
FROM m5
"""


def q_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature scaling (operators/features.py:standardize):
    z-score (explicit power-sum moments), min-max, and robust
    (median/IQR) columns in one stats pass + broadcast join. Cent scale
    again: mean/std come from exact integer sums, min/max/x are exact
    grid doubles, so z and mm are fully deterministic; the robust
    column inherits the known 1-ulp percentile interpolation wobble and
    all three round at 6 (ratios are non-grid after division by an
    irrational-ish spread, and the deterministic pair tie identically
    by construction)."""
    from tablecloth_time_spark.operators.features import standardize

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_c", F.round(F.col("value") * 100, 0)
    )
    out = standardize(ev, ["user_id"], "value_c")
    return out.select(
        "event_id", "user_id",
        F.round("value_c_z", 6).alias("z"),
        F.round("value_c_mm", 6).alias("mm"),
        F.round("value_c_rb", 6).alias("rb"),
    )


SQL_STANDARDIZE = """
WITH v AS (
  SELECT event_id, user_id,
         ROUND(CAST(value AS DOUBLE) * 100, 0) AS x
  FROM events
),
s AS (
  SELECT user_id,
         SUM(x) AS s1, SUM(x * x) AS s2,
         CAST(COUNT(*) AS DOUBLE) AS n,
         MIN(x) AS lo, MAX(x) AS hi,
         quantile_cont(x, 0.5) AS med,
         quantile_cont(x, 0.75) - quantile_cont(x, 0.25) AS iqr
  FROM v WHERE x IS NOT NULL AND NOT isnan(x)
  GROUP BY 1
)
SELECT v.event_id, v.user_id,
       ROUND(CASE WHEN sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)) > 0
                  THEN (v.x - s.s1 / s.n)
                       / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))
             END, 6) AS z,
       ROUND(CASE WHEN s.hi > s.lo
                  THEN (v.x - s.lo) / (s.hi - s.lo) END, 6) AS mm,
       ROUND(CASE WHEN s.iqr > 0
                  THEN (v.x - s.med) / s.iqr END, 6) AS rb
FROM v LEFT JOIN s ON v.user_id = s.user_id
"""


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity profile over the documents table
    (functions/text.py:lexical_diversity): token/type/hapax counts plus
    TTR, hapax ratio, and Guiraud's length-corrected R — the
    vocabulary-richness training-data quality signal. All counts are
    exact integers and every ratio is a single deterministic division,
    so no rounding is needed; DuckDB mirrors the normalize → split →
    unnest (explode_outer semantics via a [NULL] placeholder) → two-
    aggregate pipeline."""
    from tablecloth_time_spark.functions.text import lexical_diversity

    docs = _t(spark, sf_dir, "documents")
    return lexical_diversity(docs, ["doc_id"])


SQL_LEXICAL_DIVERSITY = r"""
WITH nm AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents
),
tk AS (
  SELECT doc_id,
         CASE WHEN t IS NULL THEN NULL
              WHEN t = '' THEN []::VARCHAR[]
              ELSE string_split(t, ' ') END AS toks
  FROM nm
),
w AS (
  SELECT doc_id,
         unnest(CASE WHEN toks IS NULL OR len(toks) = 0
                     THEN [CAST(NULL AS VARCHAR)] ELSE toks END) AS wd
  FROM tk
),
wc AS (
  SELECT doc_id, wd, COUNT(wd) AS c FROM w GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CASE WHEN CAST(SUM(c) AS DOUBLE) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE) END AS ttr,
       CASE WHEN CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS DOUBLE) = 0
            THEN NULL
            ELSE CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       END AS hapax_ratio,
       CASE WHEN sqrt(CAST(SUM(c) AS DOUBLE)) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / sqrt(CAST(SUM(c) AS DOUBLE)) END AS guiraud
FROM wc GROUP BY 1
"""


def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screening over the labeled embeddings
    table (operators/similarity.py:centroid_outliers): per-label mean
    embedding, each vector's cosine to its own label centroid, and the
    z_thresh=2 below-mean outlier flag. Vectors never shuffle — the
    posexplode aggregate carries 8-byte dim partials and both joins
    broadcast |labels|-row frames. cos rounds at 6 (the similarity
    family's proven parity band for the sequential-fold dot vs DuckDB
    list_inner_product)."""
    from tablecloth_time_spark.operators.similarity import centroid_outliers

    emb = _t(spark, sf_dir, "embeddings")
    out = centroid_outliers(emb, ["label"], "vec_id", "embedding")
    return out.select(
        "label", "vec_id",
        F.round("cos_centroid", 6).alias("cos_centroid"),
        "is_outlier",
    )


SQL_CENTROID_OUTLIERS = """
WITH ed AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
d AS (
  SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM ed
),
c AS (
  SELECT label, pos, AVG(val) AS cv FROM d GROUP BY 1, 2
),
cent AS (
  SELECT label, list(cv ORDER BY pos) AS centroid FROM c GROUP BY 1
),
s AS (
  SELECT e.label, e.vec_id,
         list_inner_product(e.v, c.centroid)
           / (sqrt(list_inner_product(e.v, e.v))
              * sqrt(list_inner_product(c.centroid, c.centroid)))
           AS cos
  FROM ed e JOIN cent c ON e.label = c.label
),
st AS (
  SELECT label, SUM(cos) AS s1, SUM(cos * cos) AS s2,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM s GROUP BY 1
)
SELECT s.label, s.vec_id, ROUND(s.cos, 6) AS cos_centroid,
       CAST(s.cos < st.s1 / st.n
                    - 2.0 * sqrt(st.s2 / st.n
                                 - (st.s1 / st.n) * (st.s1 / st.n))
            AS INT) AS is_outlier
FROM s JOIN st ON s.label = st.label
"""


def q_tenure_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-tenure features
    (operators/features.py:tenure_features): first/last activity,
    inclusive calendar span, exact distinct active days, event count,
    and activity density — one mergeable aggregate, timestamps and
    exact integers throughout, no rounding anywhere."""
    from tablecloth_time_spark.operators.features import tenure_features

    ev = _t(spark, sf_dir, "events")
    return tenure_features(ev, ["user_id"], "ts")


SQL_TENURE_FEATURES = """
SELECT user_id,
       MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
       MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
       CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                      MAX(CAST(ts AS DATE))) + 1 AS BIGINT) AS span_days,
       COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE)
         / CAST(CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                               MAX(CAST(ts AS DATE))) + 1 AS BIGINT)
                AS DOUBLE) AS density
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
"""


def q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-structure transition matrix applied with generic role
    semantics (operators/transcripts.py:role_transitions): one row per
    adjacent (from_type, to_type) pair per user sequence with the count
    and the gap distribution (exact-ms mean + exact-interpolated p95
    seconds). Deterministic with no rounding: the mean accumulates
    exact integer milliseconds and divides once; each p95 input is a
    single k/1000 division; percentile()/quantile_cont interpolation
    parity is the measured property the winsorize/theil_sen family
    established."""
    from tablecloth_time_spark.operators.transcripts import role_transitions

    ev = _t(spark, sf_dir, "events")
    return role_transitions(
        ev, conv_col="user_id", order_cols=["ts", "event_id"],
        ts_col="ts", role_col="event_type",
    )


SQL_ROLE_TRANSITIONS = """
WITH p AS (
  SELECT lag(event_type) OVER w AS from_role,
         event_type AS to_role,
         CAST(epoch_ms(CAST(ts AS TIMESTAMP))
              - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w
              AS DOUBLE) AS gap_ms
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT from_role, to_role,
       COUNT(*) AS transitions,
       AVG(gap_ms) / 1000.0 AS mean_gap_s,
       quantile_cont(gap_ms / 1000.0, 0.95) AS p95_gap_s
FROM p WHERE from_role IS NOT NULL
GROUP BY 1, 2
"""


def q_alternation_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue run-length profile with generic role semantics
    (operators/transcripts.py:alternation_runs): per user sequence the
    consecutive-same-type runs of the events stream — n_turns, n_runs,
    max/mean run length, alternation ratio, and the longest run's type
    (earliest run wins ties via a (len, -run_id) struct-max). All-integer
    arithmetic plus two exact single divisions — no rounding."""
    from tablecloth_time_spark.operators.transcripts import alternation_runs

    ev = _t(spark, sf_dir, "events")
    return alternation_runs(
        ev, conv_col="user_id", order_cols=["ts", "event_id"],
        role_col="event_type",
    )


SQL_ALTERNATION_RUNS = """
WITH m AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN row_number() OVER w = 1
                   OR lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), rr AS (
  SELECT user_id, event_type,
         SUM(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS run_id
  FROM m
), runs AS (
  SELECT user_id, run_id,
         CAST(COUNT(*) AS BIGINT) AS len,
         MIN(event_type) AS r
  FROM rr GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY len DESC, run_id ASC) AS rk
  FROM runs
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_turns,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(len) AS BIGINT) AS max_run_len,
       CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_run_len,
       CASE WHEN SUM(len) > 1
            THEN CAST(COUNT(*) - 1 AS DOUBLE) / CAST(SUM(len) - 1 AS DOUBLE)
       END AS alternation_ratio,
       MIN(CASE WHEN rk = 1 THEN r END) AS longest_run_role
FROM ranked
GROUP BY 1
"""


def q_latency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Response-latency calendar heatmap
    (operators/transcripts.py:transition_latency_buckets): adjacent
    view->click gaps bucketed by the click's (ISO dow, hour) — count,
    exact-ms mean, exact-interpolated p95 seconds. Same exactness
    discipline as role_transitions (integer-ms mean, k/1000 p95 inputs,
    percentile/quantile_cont interpolation parity)."""
    from tablecloth_time_spark.operators.transcripts import (
        transition_latency_buckets,
    )

    ev = _t(spark, sf_dir, "events")
    return transition_latency_buckets(
        ev, conv_col="user_id", order_cols=["ts", "event_id"],
        ts_col="ts", role_col="event_type",
        initiator="view", responder="click",
    )


SQL_LATENCY_BUCKETS = """
WITH p AS (
  SELECT ts, event_type,
         lag(event_type) OVER w AS prev_t,
         CAST(epoch_ms(CAST(ts AS TIMESTAMP))
              - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w
              AS DOUBLE) AS gap_ms
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS iso_dow,
       CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour_of_day,
       COUNT(*) AS n_responses,
       AVG(gap_ms) / 1000.0 AS mean_gap_s,
       quantile_cont(gap_ms / 1000.0, 0.95) AS p95_gap_s
FROM p
WHERE event_type = 'click' AND prev_t = 'view' AND gap_ms IS NOT NULL
GROUP BY 1, 2
"""


def q_sortedness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key is-sorted? report (operators/validate.py:
    sortedness_report — the DataFrame form of the reference's
    binary_search.clj:8-25 check). The fixture events arrive perfectly
    ordered, so the query injects DETERMINISTIC ingest jitter first —
    observed time = ts + (event_id % 7) * 90 s, NULLed every 97th id —
    then validates monotonicity per user in event_id (arrival) order:
    n_rows / n_nulls / n_violations / is_sorted, exercising both failure
    modes (nulls and out-of-order) that gate the reference's
    binary-search slice precondition."""
    from tablecloth_time_spark.operators.validate import sortedness_report

    ev = _t(spark, sf_dir, "events")
    # interval arithmetic (not unix_millis) so the jitter works on both
    # TIMESTAMP and TIMESTAMP_NTZ inputs; when() without otherwise()
    # yields NULL of the branch's own type
    jitter = F.when(
        F.col("event_id") % 97 != 0,
        F.col("ts")
        + F.make_dt_interval(
            secs=((F.col("event_id") % 7) * 90).cast("double")
        ),
    )
    jittered = ev.withColumn("obs_ts", jitter)
    return sortedness_report(
        jittered, "obs_ts", partition_by="user_id", order_by="event_id"
    )


SQL_SORTEDNESS_REPORT = """
WITH j AS (
  SELECT user_id, event_id,
         CASE WHEN event_id % 97 = 0 THEN NULL
              ELSE CAST(ts AS TIMESTAMP)
                   + (event_id % 7) * INTERVAL 90 SECOND
         END AS obs_ts
  FROM events
), p AS (
  SELECT user_id,
         obs_ts,
         lag(obs_ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
  FROM j
)
SELECT user_id,
       COUNT(*) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE obs_ts IS NULL) AS BIGINT) AS n_nulls,
       CAST(COUNT(*) FILTER (WHERE obs_ts IS NOT NULL AND prev IS NOT NULL
                             AND obs_ts < prev) AS BIGINT) AS n_violations,
       (COUNT(*) FILTER (WHERE obs_ts IS NULL) = 0
        AND COUNT(*) FILTER (WHERE obs_ts IS NOT NULL AND prev IS NOT NULL
                             AND obs_ts < prev) = 0) AS is_sorted
FROM p
GROUP BY 1
"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction audit (functions/text.py:pii_counts /
    redact_pii) on the RE2-safe category subset (email/ssn/card/ipv4 —
    'phone' needs Java-regex lookaround, driver-excluded and documented).
    The fixture corpus contains no PII shapes, so the query first appends
    a DETERMINISTIC synthetic tail per doc (email always; ipv4 always;
    ssn on doc_id%3=0; card on doc_id%5=0; a second email on doc_id%4=0)
    — both engines build the identical string, then count and redact with
    the same most-specific-first masking order."""
    from tablecloth_time_spark.functions import text as TX

    cats = ("email", "ssn", "card", "ipv4")
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" uid"), did.cast("string"),
        F.lit("@ex"), (did % 7).cast("string"),
        F.lit(".com ip 10.0."), (did % 200).cast("string"), F.lit(".5"),
        F.when(did % 3 == 0, F.lit(" 123-45-6789")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" 4111111111111111")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit(" a.b@x.io")).otherwise(F.lit("")),
    )
    counts = TX.pii_counts(aug, cats)
    return docs.select(
        "doc_id",
        counts.getField("email").cast("long").alias("n_email"),
        counts.getField("ssn").cast("long").alias("n_ssn"),
        counts.getField("card").cast("long").alias("n_card"),
        counts.getField("ipv4").cast("long").alias("n_ipv4"),
        F.length(TX.redact_pii(aug, cats)).cast("long").alias("redacted_len"),
    )


def _sql_pii_scan() -> str:
    """DuckDB mirror of q_pii_scan built from the SAME PII_PATTERNS dict
    (single source of truth): progressive mask-then-count in the
    canonical order, len(regexp_extract_all) as the count."""
    from tablecloth_time_spark.functions.text import PII_PATTERNS

    e, s, c, i = (
        PII_PATTERNS["email"], PII_PATTERNS["ssn"],
        PII_PATTERNS["card"], PII_PATTERNS["ipv4"],
    )
    return f"""
WITH a AS (
  SELECT doc_id,
         text || ' uid' || CAST(doc_id AS VARCHAR)
              || '@ex' || CAST(doc_id % 7 AS VARCHAR)
              || '.com ip 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.5'
              || CASE WHEN doc_id % 3 = 0 THEN ' 123-45-6789' ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN ' 4111111111111111' ELSE '' END
              || CASE WHEN doc_id % 4 = 0 THEN ' a.b@x.io' ELSE '' END AS t
  FROM documents
), m1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{e}')) AS BIGINT) AS n_email,
         regexp_replace(t, '{e}', '<email>', 'g') AS t1
  FROM a
), m2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1, '{s}')) AS BIGINT) AS n_ssn,
         regexp_replace(t1, '{s}', '<ssn>', 'g') AS t2
  FROM m1
), m3 AS (
  SELECT doc_id, n_email, n_ssn,
         CAST(len(regexp_extract_all(t2, '{c}')) AS BIGINT) AS n_card,
         regexp_replace(t2, '{c}', '<card>', 'g') AS t3
  FROM m2
)
SELECT doc_id, n_email, n_ssn, n_card,
       CAST(len(regexp_extract_all(t3, '{i}')) AS BIGINT) AS n_ipv4,
       CAST(length(regexp_replace(t3, '{i}', '<ipv4>', 'g')) AS BIGINT)
         AS redacted_len
FROM m3
"""


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (functions/text.py:
    add_repetition_metrics): duplicate-line / duplicate-paragraph /
    duplicate-word fractions. The fixture corpus is single-line, so the
    query first derives deterministic structure — every standalone
    'spark' token becomes a paragraph break, every 'the' a line break —
    identically in both engines; the fractions are 1 - int/int
    divisions, bit-exact."""
    from tablecloth_time_spark.functions.text import add_repetition_metrics

    docs = _t(spark, sf_dir, "documents")
    structured = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"\bspark\b", "\n\n"),
        r"\bthe\b", "\n",
    )
    out = add_repetition_metrics(
        docs.select("doc_id", structured.alias("text")), "text"
    )
    return out.select(
        "doc_id", "dup_line_frac", "dup_para_frac", "dup_word_frac"
    )


SQL_REPETITION_METRICS = (
    r"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '\bspark\b', chr(10) || chr(10), 'g'),
           '\bthe\b', chr(10), 'g') AS t
  FROM documents
), x AS (
  SELECT doc_id,
    list_filter(list_transform(string_split_regex(t, '\n'),
                               s -> regexp_replace(s, '^\s+|\s+$', '', 'g')),
                s -> s <> '') AS lines,
    list_filter(list_transform(string_split_regex(t, '\n{2,}'),
                               s -> regexp_replace(s, '^\s+|\s+$', '', 'g')),
                s -> s <> '') AS paras,
    trim(regexp_replace(lower(trim(t)), '\s+', ' ', 'g')) AS norm
  FROM d
), y AS (
  SELECT doc_id, lines, paras,
         CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(norm, '\s+') END AS words
  FROM x
)
SELECT doc_id,
  CASE WHEN len(lines) > 0
       THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                  / CAST(len(lines) AS DOUBLE) END AS dup_line_frac,
  CASE WHEN len(paras) > 0
       THEN 1.0 - CAST(len(list_distinct(paras)) AS DOUBLE)
                  / CAST(len(paras) AS DOUBLE) END AS dup_para_frac,
  CASE WHEN len(words) > 0
       THEN 1.0 - CAST(len(list_distinct(words)) AS DOUBLE)
                  / CAST(len(words) AS DOUBLE) END AS dup_word_frac
FROM y
"""
)


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling (operators/pack.py:
    mixture_sample): keep a doc iff its md5 hash-fraction (salt 'mix')
    clears its language's target rate (en 0.9 / de 0.5 / fr 0.25,
    default 0.1) — the domain-rebalancing step of training-data prep,
    reproducible across engines/runs/partitionings. The emitted frac
    makes the hash itself part of the verified surface."""
    from tablecloth_time_spark.operators.pack import mixture_sample
    from tablecloth_time_spark.operators.sample import hash_fraction

    docs = _t(spark, sf_dir, "documents")
    kept = mixture_sample(
        docs, "lang", {"en": 0.9, "de": 0.5, "fr": 0.25}, "doc_id",
        default_rate=0.1, salt="mix",
    )
    return kept.select(
        "doc_id", "lang", "source",
        F.round(hash_fraction("doc_id", "mix"), 8).alias("frac"),
    )


SQL_MIXTURE_RESAMPLE = """
WITH h AS (
  SELECT doc_id, lang, source,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 15))
              AS BIGINT) / 1152921504606846976.0 AS frac
  FROM documents
)
SELECT doc_id, lang, source, ROUND(frac, 8) AS frac
FROM h
WHERE frac < CASE lang WHEN 'en' THEN 0.9
                       WHEN 'de' THEN 0.5
                       WHEN 'fr' THEN 0.25
                       ELSE 0.1 END
"""


def q_hygiene_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed per-document keep/drop quality gate
    (functions/text.py:hygiene_gate): fixed-order checks length -> lang
    allow-list -> quality floor (on the rounded-6 value, so the decision
    is cross-engine-reproducible) -> Gopher dup_word_frac ceiling, with
    the FIRST failing check as the exact drop reason. Thresholds chosen
    so all four legs fire on this corpus (len<100 / 'und' lang /
    quality<0.75 / dwf>0.6). Zero shuffles — the whole gate is chained
    regexp/array codegen inside the scan task."""
    from tablecloth_time_spark.functions.text import hygiene_gate

    docs = _t(spark, sf_dir, "documents")
    return hygiene_gate(docs, ["doc_id"])


def _sql_hygiene_gate() -> str:
    """Composes the (independently green) text_stats + lang_id oracle
    CTEs with the dup-word-frac leg and the same COALESCE(fail) CASE
    ladder — the reason column re-derived end to end in DuckDB."""
    return f"""
WITH s AS ({SQL_TEXT_STATS}),
l AS ({SQL_LANG_ID}),
tw AS (
  SELECT doc_id, length(text) AS n_chars,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), w AS (
  SELECT doc_id, n_chars,
         CASE WHEN norm = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(norm, ' ') END AS toks
  FROM tw
), dw AS (
  SELECT doc_id, n_chars,
         CASE WHEN len(toks) > 0
              THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE) END AS dwf
  FROM w
), j AS (
  SELECT s.doc_id, dw.n_chars, l.lang_pred, s.quality, dw.dwf
  FROM s JOIN l USING (doc_id) JOIN dw USING (doc_id)
), g AS (
  SELECT *,
    CASE
      WHEN NOT COALESCE(n_chars >= 100 AND n_chars <= 20000, FALSE)
        THEN 'length'
      WHEN NOT COALESCE(lang_pred IN ('en','de','fr','es'), FALSE)
        THEN 'lang'
      WHEN NOT COALESCE(quality >= 0.75, FALSE) THEN 'quality'
      WHEN NOT COALESCE(dwf <= 0.6, FALSE) THEN 'repetition'
    END AS reason
  FROM j
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, lang_pred, quality,
       dwf AS dup_word_frac, reason IS NULL AS keep, reason
FROM g
"""


def q_slice_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``{:result-type :as-indices}`` slice
    (slice.clj:114-137), order-parameterized for the distributed engine
    (operators/slice.py:slice_indices — closing the engine's last
    documented deviation): global 0-based row positions under the total
    order (ts, event_id) for the rows inside the inclusive time range.
    The index is assigned over the FULL dataset by range-repartition +
    partition-offset + streamed Arrow running position (the
    10^12-row-safe form of row_number() OVER (ORDER BY ...) — no
    single-partition window), then the slice filter applies on top.
    DuckDB re-derives it with a plain global row_number."""
    from tablecloth_time_spark.operators.slice import slice_indices

    ev = _t(spark, sf_dir, "events")
    out = slice_indices(
        ev, "ts", "2024-01-03", "2024-01-05 12:00:00",
        order_by=["ts", "event_id"],
    )
    return out.select("row_index", "event_id", "ts")


SQL_SLICE_INDICES = """
WITH i AS (
  SELECT event_id, ts,
         row_number() OVER (ORDER BY ts, event_id) - 1 AS row_index
  FROM events
)
SELECT CAST(row_index AS BIGINT) AS row_index, event_id, ts
FROM i
WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
  AND ts <= TIMESTAMP '2024-01-05 12:00:00'
"""


def _nz(fn: Callable[[SparkSession, str], DataFrame]):
    """Canonicalize IEEE negative zero (-0.0 -> +0.0) on float output cols.

    ROUND can land exactly on zero from either side of it, and the engines
    then disagree on the sign bit (r3: one sf0.01 row where DuckDB's
    ROUND(x, 6) kept -0.0 while Spark produced +0.0 — numerically equal,
    but the driver's value hash is byte-level, so the single signed zero
    flipped the whole level_shifts query red). ``x + 0.0`` is the IEEE-754
    canonicalization identity: -0.0 + 0.0 = +0.0 under round-to-nearest,
    while every other value (NaN and NULL included) passes through. The
    oracle side applies the same rewrite (see _nz_sql), so both engines
    converge on +0.0. Applied mechanically to EVERY float/double output
    column of every query so future rounded columns can't reintroduce the
    hazard (PLANS.md "negative-zero canonicalization").
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        exprs = []
        for c, t in df.dtypes:
            col = F.col(c)
            if t == "double":
                exprs.append((col + F.lit(0.0)).alias(c))
            elif t == "float":
                exprs.append(
                    (col.cast("double") + F.lit(0.0)).cast("float").alias(c)
                )
            else:
                exprs.append(col)
        return df.select(*exprs)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


# float/double output columns per oracle query, for the -0.0 rewrite on the
# DuckDB side (mirror of _nz). Generated by scripts/gen_nz_cols.py from
# DESCRIBE over the raw oracle SQL; tests/test_entry_contract.py asserts it
# stays in sync, so add new queries there and regenerate.
_NZ_FLOAT_COLS: dict[str, list[tuple[str, str]]] = {
    "slice_events": [("value", "DOUBLE")],
    "rollup_hourly": [("sum_value", "DOUBLE"), ("min_value", "DOUBLE"), ("max_value", "DOUBLE"), ("avg_value", "DOUBLE")],
    "rollup_15min_salted": [("sum_value", "DOUBLE")],
    "calendar_floors": [("sum_price", "DOUBLE")],
    "computed_fields": [("hour_frac", "DOUBLE"), ("daily_phase", "DOUBLE"), ("weekly_phase", "DOUBLE"), ("yearly_phase", "DOUBLE")],
    "add_lags": [("value", "DOUBLE"), ("value_lag1", "DOUBLE"), ("value_lag2", "DOUBLE")],
    "first_difference": [("diff", "DOUBLE"), ("run_sum", "DOUBLE"), ("run_peak", "DOUBLE"), ("drawdown", "DOUBLE")],
    "resample_daily_mean": [("mean_value", "DOUBLE")],
    "rolling_1h": [("roll_sum", "DOUBLE"), ("roll5_avg", "DOUBLE"), ("roll5_min", "DOUBLE")],
    "datetime_stats": [("slope", "DOUBLE"), ("intercept", "DOUBLE"), ("r2", "DOUBLE")],
    "gapfill_ffill": [("value", "DOUBLE")],
    "acf_hourly": [("acf", "DOUBLE")],
    "ccf_hourly": [("ccf", "DOUBLE")],
    "pacf_synthetic": [("pacf", "DOUBLE")],
    "seasonal_decompose": [("trend", "DOUBLE"), ("seasonal", "DOUBLE"), ("remainder", "DOUBLE")],
    "decomposition_strength": [("trend_strength", "DOUBLE"), ("seasonal_strength", "DOUBLE")],
    "rollup_tiers_long": [("s", "DOUBLE")],
    "asof_join_rates": [("hour_sum", "DOUBLE")],
    "asof_nearest_rates": [("hour_sum", "DOUBLE")],
    "sessionize_events": [("sum_value", "DOUBLE")],
    "counter_rate_events": [("delta", "DOUBLE"), ("rate_per_s", "DOUBLE"), ("ewma", "DOUBLE")],
    "twa_daily": [("twa", "DOUBLE"), ("coverage", "DOUBLE")],
    "detect_gaps": [("gap_s", "DOUBLE")],
    "ohlc_daily": [("open", "DOUBLE"), ("high", "DOUBLE"), ("low", "DOUBLE"), ("close", "DOUBLE"), ("p50", "DOUBLE"), ("p95", "DOUBLE"), ("p99", "DOUBLE")],
    "window_features": [("value", "DOUBLE"), ("value_1h_ago", "DOUBLE"), ("zscore", "DOUBLE")],
    "level_shifts": [("shift", "DOUBLE"), ("shift_score", "DOUBLE")],
    "mad_anomalies": [("value", "DOUBLE"), ("score", "DOUBLE")],
    "benchmark_forecast": [("forecast", "DOUBLE"), ("mae", "DOUBLE"), ("rmse", "DOUBLE"), ("mape", "DOUBLE"), ("mase", "DOUBLE")],
    "theta_forecast": [("forecast", "DOUBLE")],
    "brown_forecast": [("forecast", "DOUBLE")],
    "holt_forecast": [("forecast", "DOUBLE")],
    "turn_metrics": [("duration_s", "DOUBLE"), ("mean_response_s", "DOUBLE"), ("p95_response_s", "DOUBLE")],
    "slo_burn": [("err_short", "DOUBLE"), ("err_long", "DOUBLE"), ("burn_short", "DOUBLE"), ("burn_long", "DOUBLE")],
    "histogram_quantile": [("total", "DOUBLE"), ("p50", "DOUBLE"), ("p95", "DOUBLE"), ("p99", "DOUBLE")],
    "session_survival": [("t", "DOUBLE"), ("survival", "DOUBLE")],
    "growth_rates": [("revenue", "DOUBLE"), ("mom_prev", "DOUBLE"), ("mom_growth", "DOUBLE"), ("yoy_prev", "DOUBLE"), ("yoy_growth", "DOUBLE")],
    "ar2_forecast": [("forecast", "DOUBLE")],
    "stickiness": [("stickiness", "DOUBLE")],
    "star_rollup": [("revenue", "DOUBLE")],
    "seasonal_anomalies": [("remainder", "DOUBLE"), ("score", "DOUBLE")],
    "bollinger_rsi": [("mid", "DOUBLE"), ("upper", "DOUBLE"), ("lower", "DOUBLE"), ("pct_b", "DOUBLE"), ("bandwidth", "DOUBLE"), ("rsi", "DOUBLE")],
    "periodogram": [("amp", "DOUBLE"), ("power_frac", "DOUBLE")],
    "ewma_rows": [("ewma", "DOUBLE")],
    "rolling_quantiles": [("med", "DOUBLE"), ("p90", "DOUBLE")],
    "hopping_rollup": [("sum_value", "DOUBLE")],
    "profile_rollup": [("vmin", "DOUBLE"), ("vmax", "DOUBLE"), ("mean", "DOUBLE")],
    "pelt_synthetic": [("mean_before", "DOUBLE"), ("mean_after", "DOUBLE")],
    "hw_synthetic": [("forecast", "DOUBLE")],
    "cusum_drift": [("cusum_pos", "DOUBLE"), ("cusum_neg", "DOUBLE")],
    "croston_intermittent": [("z_hat", "DOUBLE"), ("p_hat", "DOUBLE"), ("forecast", "DOUBLE")],
    "predict_linear": [("slope", "DOUBLE"), ("predicted", "DOUBLE")],
    "rolling_corr": [("corr", "DOUBLE")],
    "counter_increase": [("increase", "DOUBLE")],
    "gapfill_monthly": [("avg_price", "DOUBLE")],
    "continuous_hourly": [("s", "DOUBLE")],
    "compress_roundtrip": [("s", "DOUBLE")],
    "m4_downsample": [("v_first", "DOUBLE"), ("v_last", "DOUBLE"), ("v_min", "DOUBLE"), ("v_max", "DOUBLE")],
    "cohort_retention": [("retention", "DOUBLE")],
    "text_stats": [("punct_ratio", "DOUBLE"), ("stopword_ratio", "DOUBLE"), ("mean_word_len", "DOUBLE"), ("quality", "DOUBLE")],
    "sample_splits": [("frac", "DOUBLE")],
    "ngram_jaccard_pairs": [("jaccard_sim", "DOUBLE")],
    "embedding_near_dup": [("cosine_sim", "DOUBLE")],
    "embedding_topk": [("cosine_sim", "DOUBLE")],
    "media_features": [("feature_sum", "DOUBLE")],
    "lsh_ann_topk": [("cosine_sim", "DOUBLE")],
    "ivf_topk": [("cosine_sim", "DOUBLE")],
    "minhash_dedup": [("jaccard_sim", "DOUBLE")],
    "winnow_dedup": [("fp_sim", "DOUBLE")],
    "lttb_downsample": [("value", "DOUBLE")],
    "histogram_rollup": [("bin_lo", "DOUBLE"), ("bin_hi", "DOUBLE")],
    "rollup_tiers_zoned": [("s", "DOUBLE")],
    "sax_symbols": [("paa", "DOUBLE"), ("z", "DOUBLE")],
    "tier_diff": [("old_s", "DOUBLE"), ("new_s", "DOUBLE")],
    "dtw_daily": [("dtw", "DOUBLE"), ("dtw_norm", "DOUBLE")],
    "matrix_profile": [("mp", "DOUBLE")],
    "arrival_stats": [("mean_gap_s", "DOUBLE"), ("std_gap_s", "DOUBLE"), ("cv", "DOUBLE"), ("burstiness", "DOUBLE")],
    "type_entropy": [("entropy_bits", "DOUBLE"), ("norm_entropy", "DOUBLE")],
    "role_ngrams": [("share", "DOUBLE")],
    "compressed_slice": [("s", "DOUBLE")],
    "series_features": [("mean", "DOUBLE"), ("std_pop", "DOUBLE"), ("skewness", "DOUBLE"), ("kurtosis", "DOUBLE"), ("mean_square", "DOUBLE"), ("mean_abs_change", "DOUBLE"), ("autocorr1", "DOUBLE")],
    "theil_sen": [("slope", "DOUBLE"), ("intercept", "DOUBLE")],
    "dominant_period": [("peak_acf", "DOUBLE")],
    "winsorize": [("value", "DOUBLE"), ("value_w", "DOUBLE")],
    "hampel": [("v", "DOUBLE"), ("v_f", "DOUBLE")],
    "standardize": [("z", "DOUBLE"), ("mm", "DOUBLE"), ("rb", "DOUBLE")],
    "lexical_diversity": [("ttr", "DOUBLE"), ("hapax_ratio", "DOUBLE"), ("guiraud", "DOUBLE")],
    "centroid_outliers": [("cos_centroid", "DOUBLE")],
    "tenure_features": [("density", "DOUBLE")],
    "role_transitions": [("mean_gap_s", "DOUBLE"), ("p95_gap_s", "DOUBLE")],
    "alternation_runs": [("mean_run_len", "DOUBLE"), ("alternation_ratio", "DOUBLE")],
    "latency_buckets": [("mean_gap_s", "DOUBLE"), ("p95_gap_s", "DOUBLE")],
    "repetition_metrics": [("dup_line_frac", "DOUBLE"), ("dup_para_frac", "DOUBLE"), ("dup_word_frac", "DOUBLE")],
    "mixture_resample": [("frac", "DOUBLE")],
    "hygiene_gate": [("quality", "DOUBLE"), ("dup_word_frac", "DOUBLE")],
}


def _nz_sql(sql: str, float_cols: list[tuple[str, str]]) -> str:
    """Wrap an oracle query so every float column is canonicalized via
    ``CAST(col + 0 AS <type>)`` — the DuckDB half of the _nz contract."""
    if not float_cols:
        return sql
    repl = ", ".join(
        f'CAST("{c}" + 0 AS {t}) AS "{c}"' for c, t in float_cols
    )
    return f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n) AS __nz"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _nz(fn) for name, fn in _raw_queries().items()}


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order IS the driver's scoring window: the driver
    hash-checks the FIRST 50 entries each round (COVERAGE.md "scored-50
    windowing policy"). Layout:

    - entries 1-9: never-rotated ANCHORS (slice/rollup/tiers/gapfill/
      asof/session core) kept in every round's window for cross-round
      comparability;
    - entries 10-50 (r5 window): the 37 queries the driver last scored
      in r3 or never (the dedup/ANN/text family, the late-r4 operator
      wave) plus the 4 new r5 queries (lttb_downsample,
      state_durations, histogram_rollup, rollup_tiers_zoned);
    - entries 51+: queries with green driver rows in r4 (scored again on
      the next rotation).

    With this rotation every registry query has at least one green
    driver CORRECTNESS row across r3-r5.
    """
    return {
        # --- anchors (never rotated) ---
        "slice_events": q_slice_events,
        "rollup_hourly": q_rollup_hourly,
        "rollup_15min_salted": q_rollup_15min_salted,
        "rollup_tiers_long": q_rollup_tiers_long,
        "calendar_floors": q_calendar_floors,
        "field_extractors": q_field_extractors,
        "gapfill_ffill": q_gapfill_ffill,
        "asof_join_rates": q_asof_join_rates,
        "sessionize_events": q_sessionize_events,
        # --- r5 rotation: last scored r3, or never scored by the driver ---
        "minhash_dedup": q_minhash_dedup,
        "simhash_dedup": q_simhash_dedup,
        "winnow_dedup": q_winnow_dedup,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_topk": q_ivf_topk,
        "decontaminate_docs": q_decontaminate,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_topk": q_embedding_topk,
        "dedup_clusters": q_dedup_clusters,
        "media_features": q_media_features,
        "text_stats": q_text_stats,
        "sample_splits": q_sample_splits,
        "sequence_dedup": q_sequence_dedup,
        "budget_prefix": q_budget_prefix,
        "compress_roundtrip": q_compress_roundtrip,
        "continuous_hourly": q_continuous_hourly,
        "gapfill_monthly": q_gapfill_monthly,
        "m4_downsample": q_m4_downsample,
        "merge_intervals": q_merge_intervals,
        "cohort_retention": q_cohort_retention,
        "pivot_daily_types": q_pivot_daily_types,
        "seasonal_anomalies": q_seasonal_anomalies,
        "bollinger_rsi": q_bollinger_rsi,
        "periodogram": q_periodogram,
        "ewma_rows": q_ewma_rows,
        "rolling_quantiles": q_rolling_quantiles,
        "hopping_rollup": q_hopping_rollup,
        "profile_rollup": q_profile_rollup,
        "pelt_synthetic": q_pelt_synthetic,
        "hw_synthetic": q_hw_synthetic,
        "cusum_drift": q_cusum_drift,
        "croston_intermittent": q_croston_intermittent,
        "predict_linear": q_predict_linear,
        "rolling_corr": q_rolling_corr,
        "counter_increase": q_counter_increase,
        # --- new in r5 ---
        "lttb_downsample": q_lttb_downsample,
        "state_durations": q_state_durations,
        "histogram_rollup": q_histogram_rollup,
        "rollup_tiers_zoned": q_rollup_tiers_zoned,
        # --- driver-green in r4 (below the 50-slot window this round) ---
        "computed_fields": q_computed_fields,
        "add_lags": q_add_lags,
        "first_difference": q_first_difference,
        "resample_daily_mean": q_resample_daily_mean,
        "rolling_1h": q_rolling_1h,
        "temporal_arithmetic": q_temporal_arithmetic,
        "datetime_stats": q_datetime_stats,
        "acf_hourly": q_acf_hourly,
        "ccf_hourly": q_ccf_hourly,
        "pacf_synthetic": q_pacf_synthetic,
        "seasonal_decompose": q_seasonal_decompose,
        "decomposition_strength": q_decomposition_strength,
        "timeops_misc": q_timeops_misc,
        "convert_time_units": q_convert_time_units,
        "time_literals": q_time_literals,
        "asof_nearest_rates": q_asof_nearest_rates,
        "counter_rate_events": q_counter_rate_events,
        "twa_daily": q_twa_daily,
        "detect_gaps": q_detect_gaps,
        "interval_join_gaps": q_interval_join_gaps,
        "ohlc_daily": q_ohlc_daily,
        "topk_event_types": q_topk_event_types,
        "window_features": q_window_features,
        "level_shifts": q_level_shifts,
        "mad_anomalies": q_mad_anomalies,
        "suppress_duplicates": q_suppress_duplicates,
        "benchmark_forecast": q_benchmark_forecast,
        "theta_forecast": q_theta_forecast,
        "brown_forecast": q_brown_forecast,
        "holt_forecast": q_holt_forecast,
        "turn_metrics": q_turn_metrics,
        "slo_burn": q_slo_burn,
        "funnel": q_funnel,
        "histogram_quantile": q_histogram_quantile,
        "session_survival": q_session_survival,
        "growth_rates": q_growth_rates,
        "weekly_active": q_weekly_active,
        "ar2_forecast": q_ar2_forecast,
        "stickiness": q_stickiness,
        "star_rollup": q_star_rollup,
        "business_days": q_business_days,
        # --- new in r5 (below the window; verified via
        # scripts/check_contract.py at sf0.001/0.01/0.1 — rotate into
        # the scored window next round) ---
        "sax_symbols": q_sax_symbols,
        "sax_words": q_sax_words,
        "tier_diff": q_tier_diff,
        "dtw_daily": q_dtw_daily,
        "matrix_profile": q_matrix_profile,
        "arrival_stats": q_arrival_stats,
        "type_entropy": q_type_entropy,
        "role_ngrams": q_role_ngrams,
        "compressed_slice": q_compressed_slice,
        "tier_retention": q_tier_retention,
        "series_features": q_series_features,
        "theil_sen": q_theil_sen,
        "dominant_period": q_dominant_period,
        "winsorize": q_winsorize,
        "hampel": q_hampel,
        "standardize": q_standardize,
        "lexical_diversity": q_lexical_diversity,
        "centroid_outliers": q_centroid_outliers,
        "tenure_features": q_tenure_features,
        "role_transitions": q_role_transitions,
        "alternation_runs": q_alternation_runs,
        "latency_buckets": q_latency_buckets,
        "sortedness_report": q_sortedness_report,
        "pii_scan": q_pii_scan,
        "repetition_metrics": q_repetition_metrics,
        "mixture_resample": q_mixture_resample,
        "hygiene_gate": q_hygiene_gate,
        "slice_indices": q_slice_indices,
    }


def oracle_sql() -> dict[str, str]:
    raw = _raw_oracle_sql()
    return {
        name: _nz_sql(sql, _NZ_FLOAT_COLS.get(name, []))
        for name, sql in raw.items()
    }


def _raw_oracle_sql() -> dict[str, str]:
    return {
        "slice_events": SQL_SLICE_EVENTS,
        "rollup_hourly": SQL_ROLLUP_HOURLY,
        "rollup_15min_salted": SQL_ROLLUP_15MIN,
        "calendar_floors": SQL_CALENDAR_FLOORS,
        "field_extractors": SQL_FIELD_EXTRACTORS,
        "computed_fields": SQL_COMPUTED_FIELDS,
        "add_lags": SQL_ADD_LAGS,
        "first_difference": SQL_FIRST_DIFFERENCE,
        "resample_daily_mean": SQL_RESAMPLE_DAILY_MEAN,
        "rolling_1h": SQL_ROLLING_1H,
        "temporal_arithmetic": SQL_TEMPORAL_ARITHMETIC,
        "datetime_stats": SQL_DATETIME_STATS,
        "gapfill_ffill": SQL_GAPFILL_FFILL,
        "acf_hourly": SQL_ACF_HOURLY,
        "ccf_hourly": SQL_CCF_HOURLY,
        "pacf_synthetic": SQL_PACF_SYNTHETIC,
        "seasonal_decompose": SQL_SEASONAL_DECOMPOSE,
        "decomposition_strength": SQL_DECOMPOSITION_STRENGTH,
        "timeops_misc": SQL_TIMEOPS_MISC,
        "convert_time_units": SQL_CONVERT_TIME_UNITS,
        "time_literals": SQL_TIME_LITERALS,
        "rollup_tiers_long": SQL_ROLLUP_TIERS_LONG,
        "asof_join_rates": SQL_ASOF_JOIN_RATES,
        "asof_nearest_rates": SQL_ASOF_NEAREST_RATES,
        "sessionize_events": SQL_SESSIONIZE_EVENTS,
        "counter_rate_events": SQL_COUNTER_RATE_EVENTS,
        "twa_daily": SQL_TWA_DAILY,
        "detect_gaps": SQL_DETECT_GAPS,
        "interval_join_gaps": SQL_INTERVAL_JOIN_GAPS,
        "ohlc_daily": SQL_OHLC_DAILY,
        "topk_event_types": SQL_TOPK_EVENT_TYPES,
        "window_features": SQL_WINDOW_FEATURES,
        "level_shifts": SQL_LEVEL_SHIFTS,
        "mad_anomalies": SQL_MAD_ANOMALIES,
        "suppress_duplicates": SQL_SUPPRESS_DUPLICATES,
        "benchmark_forecast": SQL_BENCHMARK_FORECAST,
        "theta_forecast": SQL_THETA_FORECAST,
        "brown_forecast": SQL_BROWN_FORECAST,
        "holt_forecast": SQL_HOLT_FORECAST,
        "turn_metrics": SQL_TURN_METRICS,
        "slo_burn": SQL_SLO_BURN,
        "funnel": SQL_FUNNEL,
        "histogram_quantile": SQL_HISTOGRAM_QUANTILE,
        "session_survival": SQL_SESSION_SURVIVAL,
        "growth_rates": SQL_GROWTH_RATES,
        "weekly_active": SQL_WEEKLY_ACTIVE,
        "ar2_forecast": SQL_AR2_FORECAST,
        "stickiness": SQL_STICKINESS,
        "star_rollup": SQL_STAR_ROLLUP,
        "business_days": _sql_business_days(),
        "seasonal_anomalies": SQL_SEASONAL_ANOMALIES,
        "bollinger_rsi": SQL_BOLLINGER_RSI,
        "periodogram": SQL_PERIODOGRAM,
        "ewma_rows": SQL_EWMA_ROWS,
        "rolling_quantiles": SQL_ROLLING_QUANTILES,
        "hopping_rollup": SQL_HOPPING_ROLLUP,
        "profile_rollup": SQL_PROFILE_ROLLUP,
        "pelt_synthetic": SQL_PELT_SYNTHETIC,
        "hw_synthetic": SQL_HW_SYNTHETIC,
        "cusum_drift": SQL_CUSUM_DRIFT,
        "croston_intermittent": SQL_CROSTON_INTERMITTENT,
        "predict_linear": SQL_PREDICT_LINEAR,
        "rolling_corr": SQL_ROLLING_CORR,
        "sequence_dedup": SQL_SEQUENCE_DEDUP,
        "counter_increase": SQL_COUNTER_INCREASE,
        "budget_prefix": SQL_BUDGET_PREFIX,
        "gapfill_monthly": SQL_GAPFILL_MONTHLY,
        "continuous_hourly": SQL_CONTINUOUS_HOURLY,
        "compress_roundtrip": SQL_COMPRESS_ROUNDTRIP,
        "m4_downsample": SQL_M4_DOWNSAMPLE,
        "merge_intervals": SQL_MERGE_INTERVALS,
        "cohort_retention": SQL_COHORT_RETENTION,
        "pivot_daily_types": SQL_PIVOT_DAILY_TYPES,
        "text_stats": SQL_TEXT_STATS_LANG,
        "sample_splits": SQL_SAMPLE_SPLITS,
        "exact_dedup": SQL_EXACT_DEDUP,
        "decontaminate_docs": _sql_decontaminate(),
        "ngram_jaccard_pairs": SQL_NGRAM_JACCARD,
        "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
        "embedding_topk": SQL_EMBEDDING_TOPK,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "media_features": SQL_MEDIA_FEATURES,
        "lsh_ann_topk": _sql_lsh_ann_topk(),
        "ivf_topk": _sql_ivf_topk(),
        # r4: minhash/simhash/winnow driver queries run the hash_fn='md5'
        # variant (cross-engine-reproducible base hash), so all three now
        # carry FULL DuckDB pipeline re-derivations; the xxhash64 default
        # remains the bench/scale path with python oracles in tests.
        "minhash_dedup": _sql_minhash_dedup(),
        "simhash_dedup": _sql_simhash_dedup(),
        "winnow_dedup": SQL_WINNOW_DEDUP,
        "lttb_downsample": SQL_LTTB_DOWNSAMPLE,
        "state_durations": SQL_STATE_DURATIONS,
        "histogram_rollup": SQL_HISTOGRAM_ROLLUP,
        "rollup_tiers_zoned": SQL_ROLLUP_TIERS_ZONED,
        "sax_symbols": _sql_sax_symbols(),
        "sax_words": _sql_sax_words(),
        "tier_diff": SQL_TIER_DIFF,
        "dtw_daily": SQL_DTW_DAILY,
        "matrix_profile": SQL_MATRIX_PROFILE,
        "arrival_stats": SQL_ARRIVAL_STATS,
        "type_entropy": SQL_TYPE_ENTROPY,
        "role_ngrams": SQL_ROLE_NGRAMS,
        "compressed_slice": SQL_COMPRESSED_SLICE,
        "tier_retention": SQL_TIER_RETENTION,
        "series_features": SQL_SERIES_FEATURES,
        "theil_sen": SQL_THEIL_SEN,
        "dominant_period": _sql_dominant_period(),
        "winsorize": SQL_WINSORIZE,
        "hampel": SQL_HAMPEL,
        "standardize": SQL_STANDARDIZE,
        "lexical_diversity": SQL_LEXICAL_DIVERSITY,
        "centroid_outliers": SQL_CENTROID_OUTLIERS,
        "tenure_features": SQL_TENURE_FEATURES,
        "role_transitions": SQL_ROLE_TRANSITIONS,
        "alternation_runs": SQL_ALTERNATION_RUNS,
        "latency_buckets": SQL_LATENCY_BUCKETS,
        "sortedness_report": SQL_SORTEDNESS_REPORT,
        "pii_scan": _sql_pii_scan(),
        "repetition_metrics": SQL_REPETITION_METRICS,
        "mixture_resample": SQL_MIXTURE_RESAMPLE,
        "hygiene_gate": _sql_hygiene_gate(),
        "slice_indices": SQL_SLICE_INDICES,
    }
