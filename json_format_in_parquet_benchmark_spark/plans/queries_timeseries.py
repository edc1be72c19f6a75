"""Time-series operators over the ``events`` stream: hypertable-style
regularization (gap-fill + last-observation-carried-forward) and sliding
range-window analytics.

Cross-engine exactness: all bucket arithmetic happens in the integer micros
domain (``unix_micros`` / ``epoch_us`` -- the repo-wide rule for the
nanos-vs-micros testdata), observed values are CARRIED (never recomputed),
LOCF uses the order-free count-group trick instead of engine-specific
``IGNORE NULLS`` frames, and the moving average is a quantized-integer
windowed sum divided once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..runtime import track_persist
from ..tables import load_table
from .registry import register

HOUR_US = 3_600_000_000  # one hour in microseconds
TS_USERS = 5  # bounded user slice for the series outputs
MA_WINDOW_US = 24 * HOUR_US  # moving-average lookback


@register(
    "events_gapfill_locf",
    oracle=f"""
WITH ev AS MATERIALIZED (
  SELECT user_id, epoch_us(ts) // {HOUR_US} AS bucket,
         epoch_us(ts) AS us, event_id, value
  FROM events WHERE user_id < {TS_USERS}
),
obs AS (
  SELECT user_id, bucket, obs_value, n_obs FROM (
    SELECT user_id, bucket, value AS obs_value,
           ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                              ORDER BY us DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id, bucket) AS n_obs
    FROM ev
  ) WHERE rn = 1
),
spans AS (
  SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
  FROM ev GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM spans
),
g2 AS (
  SELECT grid.user_id, grid.bucket, o.obs_value,
         CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
         COUNT(o.obs_value) OVER (PARTITION BY grid.user_id
                                  ORDER BY grid.bucket) AS grp
  FROM grid LEFT JOIN obs o
    ON o.user_id = grid.user_id AND o.bucket = grid.bucket
)
SELECT user_id, bucket, n_obs,
       CAST(CASE WHEN obs_value IS NULL THEN 0 ELSE 1 END AS INT)
         AS is_observed,
       MAX(obs_value) OVER (PARTITION BY user_id, grp) AS value_filled
FROM g2
""",
    doc="Hypertable-style series regularization: each user's irregular "
    "event stream becomes a dense hourly series over their active span "
    "(grid = sequence + explode, one row per hour), with missing hours "
    "filled by last-observation-carried-forward.  LOCF is the portable "
    "count-group trick -- a running COUNT of observations partitions the "
    "series into carry groups whose single non-null value MAX propagates "
    "-- two window passes, no IGNORE-NULLS frames, no UDF.  The "
    "in-bucket representative is the latest observation (ties by "
    "event_id), all in the integer micros domain.  At 100 TB the grid "
    "explode is map-side and everything shuffles once on user_id.",
    tags=("timeseries", "gapfill", "window"),
    bench=True,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < TS_USERS)
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) div {HOUR_US}").alias("bucket"),
            F.expr("unix_micros(ts)").alias("us"),
            "event_id",
            "value",
        )
    )
    in_bucket = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    obs = (
        ev.withColumn("rn", F.row_number().over(in_bucket))
        .withColumn(
            "n_obs",
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id", "bucket"))
            .cast("bigint"),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "bucket", F.col("value").alias("obs_value"), "n_obs")
    )
    spans = ev.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = spans.select(
        "user_id", F.explode(F.expr("sequence(lo, hi)")).alias("bucket")
    )
    series = Window.partitionBy("user_id").orderBy("bucket")
    g2 = (
        grid.join(obs, ["user_id", "bucket"], "left")
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)).cast("bigint"))
        .withColumn("grp", F.count("obs_value").over(series))
    )
    return g2.select(
        "user_id",
        "bucket",
        "n_obs",
        F.when(F.col("obs_value").isNull(), 0).otherwise(1).cast("int").alias(
            "is_observed"
        ),
        F.max("obs_value")
        .over(Window.partitionBy("user_id", "grp"))
        .alias("value_filled"),
    )


@register(
    "events_moving_average",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value,
         CAST(FLOOR(value * 1e8) AS BIGINT) AS vq
  FROM events WHERE user_id < {TS_USERS}
),
win AS (
  SELECT user_id, event_id, us, value,
         CAST(SUM(vq) OVER w AS BIGINT) AS sq,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_win
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN {MA_WINDOW_US - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, us, value, n_win,
       CAST(sq AS DOUBLE) / (CAST(1e8 AS DOUBLE) * CAST(n_win AS DOUBLE))
         AS ma24
FROM win
""",
    doc="24-hour sliding moving average per user over the raw event "
    "stream: a RANGE window frame in the integer micros domain (every "
    "event averages the trailing day including itself).  The windowed "
    "sum is quantized-integer (order-free, exact) and de-quantized by "
    "one double division, so the doubles match bit-for-bit cross-engine "
    "-- the repo's standard recipe applied to sliding frames.  One "
    "shuffle on user_id; the range frame evaluates incrementally "
    "(add/evict) in both engines.",
    tags=("timeseries", "window", "aggregation"),
)
def events_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < TS_USERS)
        .select(
            "user_id",
            "event_id",
            F.expr("unix_micros(ts)").alias("us"),
            "value",
            F.expr("cast(floor(value * 1e8) as bigint)").alias("vq"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-(MA_WINDOW_US - 1), 0)
    )
    win = ev.select(
        "user_id",
        "event_id",
        "us",
        "value",
        F.sum("vq").over(w).cast("bigint").alias("sq"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
    )
    return win.select(
        "user_id",
        "event_id",
        "us",
        "value",
        "n_win",
        F.expr(
            "cast(sq as double) / (cast(1e8 as double) * cast(n_win as double))"
        ).alias("ma24"),
    )


@register(
    "events_user_trend_ols",
    oracle=f"""
WITH ev AS (
  SELECT user_id,
         (epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id))
           // {HOUR_US} AS xh,
         CAST(FLOOR(value * 100) AS BIGINT) AS yc
  FROM events
),
sums AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xh) AS BIGINT) AS sx,
         CAST(SUM(yc) AS BIGINT) AS sy,
         CAST(SUM(xh * yc) AS BIGINT) AS sxy,
         CAST(SUM(xh * xh) AS BIGINT) AS sxx
  FROM ev GROUP BY user_id
)
SELECT user_id, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_hour,
       (CAST(sy AS DOUBLE)
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept_cents
FROM sums
WHERE n * sxx - sx * sx > 0
""",
    doc="Per-user spend trend via closed-form OLS: y (value in integer "
    "cents) regressed on x (hours since the user's first event).  All "
    "four moment sums accumulate as exact int64 (x <= corpus-span hours, "
    "y <= cents: products stay far under 2^63), the slope is ONE double "
    "division of exact integer differences, and the intercept reuses "
    "that slope with deterministic IEEE ops -- so even the regression "
    "coefficients hash-match bit-for-bit.  Degenerate users (all events "
    "in one hour bucket: zero x-variance) are excluded identically on "
    "both sides.  One shuffle on user_id; this is the map-reduce "
    "closed-form shape that replaces iterative fitting at 100 TB.",
    tags=("timeseries", "regression", "aggregation"),
)
def events_user_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("cast(floor(value * 100) as bigint)").alias("yc"),
    )
    ev = ev.withColumn(
        "xh", F.expr(f"(us - min(us) over (partition by user_id)) div {HOUR_US}")
    )
    sums = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xh").cast("bigint").alias("sx"),
        F.sum("yc").cast("bigint").alias("sy"),
        F.sum(F.expr("xh * yc")).cast("bigint").alias("sxy"),
        F.sum(F.expr("xh * xh")).cast("bigint").alias("sxx"),
    )
    slope = "cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double)"
    return sums.where(F.expr("n * sxx - sx * sx > 0")).select(
        "user_id",
        "n",
        F.expr(slope).alias("slope_cents_per_hour"),
        F.expr(
            f"(cast(sy as double) - ({slope}) * cast(sx as double))"
            " / cast(n as double)"
        ).alias("intercept_cents"),
    )


CUSUM_THRESHOLD_CENTS = 10_000  # drift alarm at +/- $100 cumulative deviation


@register(
    "events_cusum_changepoints",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100) AS BIGINT) AS yc
  FROM events
),
stats AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yc) AS BIGINT) AS sy
  FROM ev GROUP BY user_id
),
walked AS (
  SELECT e.user_id, e.event_id, s.n,
         CAST(SUM(s.n * e.yc - s.sy)
              OVER (PARTITION BY e.user_id ORDER BY e.us, e.event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_scaled
  FROM ev e JOIN stats s ON s.user_id = e.user_id
)
SELECT user_id, event_id, cusum_scaled,
       CAST(CASE WHEN abs(cusum_scaled) > n * {CUSUM_THRESHOLD_CENTS}
                 THEN 1 ELSE 0 END AS INT) AS drift_flag
FROM walked
WHERE abs(cusum_scaled) > n * {CUSUM_THRESHOLD_CENTS}
""",
    doc="CUSUM changepoint / drift detection per user: the running "
    "cumulative deviation of event values from the user's own mean, "
    "flagged where it leaves a +/-$100 band -- the classic sequential "
    "drift detector.  Division-free formulation: comparing "
    "sum(y_i - mean) against T is identical to comparing the all-integer "
    "sum(n*y_i - sum_y) against n*T, so the walk is exact int64 "
    "arithmetic end to end (magnitudes: n*yc <= ~1e3 * 5e4 per step, "
    "summed over <= n steps stays far under 2^63).  Two passes over "
    "events co-partitioned on user_id: the per-user moments, then the "
    "ordered window walk.",
    tags=("timeseries", "changepoint", "window"),
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("cast(floor(value * 100) as bigint)").alias("yc"),
    )
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("yc").cast("bigint").alias("sy"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walked = ev.join(F.broadcast(stats), "user_id").withColumn(
        "cusum_scaled",
        F.sum(F.expr("n * yc - sy")).over(w).cast("bigint"),
    )
    return walked.where(
        F.expr(f"abs(cusum_scaled) > n * {CUSUM_THRESHOLD_CENTS}")
    ).select(
        "user_id",
        "event_id",
        "cusum_scaled",
        F.expr(
            f"cast(case when abs(cusum_scaled) > n * {CUSUM_THRESHOLD_CENTS}"
            " then 1 else 0 end as int)"
        ).alias("drift_flag"),
    )


OPEN_DAYS = 30


@register(
    "orders_open_interval_sweep",
    oracle=f"""
WITH deltas AS (
  SELECT o_orderdate AS d, 1 AS delta FROM orders
  UNION ALL
  SELECT o_orderdate + INTERVAL {OPEN_DAYS} DAY, -1 FROM orders
),
byday AS (
  SELECT d, CAST(SUM(delta) AS BIGINT) AS net
  FROM deltas GROUP BY d
),
running AS (
  SELECT d, net,
         CAST(SUM(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS open_now
  FROM byday
)
SELECT strftime(date_trunc('month', d), '%Y-%m') AS month,
       CAST(MAX(open_now) AS BIGINT) AS peak_open,
       CAST(MIN(open_now) AS BIGINT) AS min_open,
       CAST(COUNT(*) AS BIGINT) AS boundary_days
FROM running
GROUP BY month
ORDER BY month
""",
    doc=f"Concurrent-interval counting by boundary sweep: each order opens "
    f"an interval [orderdate, orderdate + {OPEN_DAYS}d); the sweep "
    "explodes intervals into +1/-1 boundary events, aggregates per day, "
    "and a running sum over BOUNDARY DAYS (not calendar days, not "
    "order-x-day pairs) yields the live-interval count -- the O(n) "
    "pattern that replaces the quadratic interval-x-timepoint join for "
    "occupancy/backlog/concurrency questions.  Monthly peak/min rollup "
    "keeps the output bounded.  The ordered prefix sum runs over the "
    "per-day aggregate (thousands of rows, not the fact table); at "
    "100 TB it becomes the standard two-pass distributed prefix sum "
    "(per-partition totals broadcast as offsets).",
    tags=("timeseries", "window", "sweep", "aggregation"),
)
def orders_open_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    opens = o.select(F.col("o_orderdate").alias("d"), F.lit(1).alias("delta"))
    closes = o.select(
        F.expr(f"o_orderdate + interval {OPEN_DAYS} days").alias("d"),
        F.lit(-1).alias("delta"),
    )
    byday = (
        opens.unionAll(closes)
        .groupBy("d")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    # global-window: per-day net-change aggregate (calendar-bounded)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    running = byday.withColumn(
        "open_now", F.sum("net").over(w).cast("bigint")
    )
    return (
        running.groupBy(
            F.date_format(F.date_trunc("month", "d"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.max("open_now").cast("bigint").alias("peak_open"),
            F.min("open_now").cast("bigint").alias("min_open"),
            F.count(F.lit(1)).alias("boundary_days"),
        )
        .orderBy("month")
    )


@register(
    "events_interarrival_stats",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
gaps AS (
  SELECT us - lag(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS g
  FROM e
),
g2 AS (SELECT g FROM gaps WHERE g IS NOT NULL),
ranked AS (
  SELECT g, ROW_NUMBER() OVER (ORDER BY g) - 1 AS r,
         COUNT(*) OVER () AS n
  FROM g2
)
SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MIN(g) AS BIGINT) AS min_gap_us,
       CAST(MAX(g) AS BIGINT) AS max_gap_us,
       CAST(MAX(CASE WHEN r = (n - 1) // 2 THEN g END) AS BIGINT)
         AS median_gap_us,
       CAST(MAX(CASE WHEN r = CAST(FLOOR(0.9 * (n - 1)) AS BIGINT)
                THEN g END) AS BIGINT) AS p90_gap_us,
       CAST(SUM(g) AS BIGINT) AS total_gap_us
FROM ranked
""",
    doc="Inter-arrival time distribution: per-user event gaps (lag over the "
    "user timeline in exact integer micros), summarized by exact "
    "rank-based median/p90 plus min/max/total -- the burstiness "
    "measurement behind session-gap and watermark-delay tuning "
    "(GAP_MINUTES and the streaming watermarks in queries_streaming "
    "are judgment calls THIS query turns into data).  Rank ordering is "
    "by gap value only: ties make rank assignment among equal values "
    "arbitrary, but the VALUE at any rank is determined by the "
    "multiset, so the emitted quantiles are deterministic.  The rank "
    "runs over one gap per event (same cardinality as the fact table), "
    "so it is the TWO-PHASE bucketed rank "
    "(functions/windows.py:rank_two_phase, constant partition key): a "
    "global ROW_NUMBER window here would sort the whole fact table on "
    "one reducer.  Ties share a bucket, so value-at-rank -- all the "
    "aggregate extracts -- is preserved exactly; parallelism is bounded "
    "by the gap RANGE / 2^16 us (65 ms buckets -- fine enough that "
    "even dense high-SF gap distributions spread over thousands of "
    "buckets), not the row count.",
    tags=("timeseries", "quantile", "window", "statistics"),
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.windows import rank_two_phase

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.select(
        (F.col("us") - F.lag("us").over(w)).alias("g")
    ).where(F.col("g").isNotNull()).withColumn("_g", F.lit(0))
    ranked = rank_two_phase(
        gaps, "_g", "g", bucket_width=1 << 16, rn_col="rn", n_col="n"
    ).withColumn("r", F.col("rn") - 1)
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min("g").cast("bigint").alias("min_gap_us"),
        F.max("g").cast("bigint").alias("max_gap_us"),
        F.max(
            F.when(F.col("r") == F.expr("(n - 1) div 2"), F.col("g"))
        )
        .cast("bigint")
        .alias("median_gap_us"),
        F.max(
            F.when(
                F.col("r")
                == F.floor(0.9 * (F.col("n") - 1)).cast("bigint"),
                F.col("g"),
            )
        )
        .cast("bigint")
        .alias("p90_gap_us"),
        F.sum("g").cast("bigint").alias("total_gap_us"),
    )


@register(
    "events_heatmap_dow_hour",
    oracle="""
SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY dow, hod
ORDER BY dow, hod
""",
    doc="Activity calendar heatmap: events and distinct users per "
    "(day-of-week, hour-of-day) cell -- the load-profile matrix behind "
    "capacity planning and anomaly baselines.  DuckDB's dayofweek is "
    "0=Sunday..6 while Spark's dayofweek is 1=Sunday..7, so the Spark "
    "side emits dayofweek-1 to match; hour() agrees as-is (UTC-pinned "
    "timestamps, the repo-wide rule).  One shuffle; 168 output cells "
    "max regardless of scale.",
    tags=("timeseries", "calendar", "aggregation"),
)
def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("dow", "hod")
    )


@register(
    "orders_seasonality_index",
    oracle="""
WITH m AS (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
         CAST(MONTH(o_orderdate) AS BIGINT) AS mth,
         CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS month_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  GROUP BY yr, mth
),
y AS (
  SELECT yr, CAST(SUM(month_cents) AS BIGINT) AS year_cents,
         CAST(COUNT(*) AS BIGINT) AS n_months
  FROM m GROUP BY yr
)
SELECT m.yr, m.mth, m.month_cents, m.n_orders,
       CAST(m.month_cents AS DOUBLE) * y.n_months
         / CAST(y.year_cents AS DOUBLE) AS seasonal_index
FROM m JOIN y ON y.yr = m.yr
ORDER BY m.yr, m.mth
""",
    doc="Classical-decomposition seasonality indices: each month's revenue "
    "share of its year, scaled by the number of observed months so a "
    "flat year indexes to 1.0 (partial first/last years use their own "
    "month count rather than assuming 12).  All mass stays in exact "
    "integer cents until one final IEEE division per row -- no "
    "cross-row float sums, so the indices are bit-identical "
    "cross-engine.  Emitted per (year, month) rather than averaged "
    "across years: the average would be an order-sensitive float sum, "
    "and downstream consumers (deseasonalizing a forecast) want the "
    "per-year matrix anyway.  Two tiny aggregates; scale-trivial.",
    tags=("timeseries", "seasonality", "aggregation"),
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mth"),
    ).agg(
        F.sum(F.expr("cast(round(o_totalprice * 100.0) as bigint)"))
        .cast("bigint")
        .alias("month_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    y = m.groupBy(F.col("yr").alias("yy")).agg(
        F.sum("month_cents").cast("bigint").alias("year_cents"),
        F.count(F.lit(1)).alias("n_months"),
    )
    return (
        m.join(F.broadcast(y), m.yr == F.col("yy"))
        .select(
            "yr",
            "mth",
            "month_cents",
            "n_orders",
            (
                F.col("month_cents").cast("double")
                * F.col("n_months")
                / F.col("year_cents").cast("double")
            ).alias("seasonal_index"),
        )
        .orderBy("yr", "mth")
    )


SES_P = 1_000_000_007


@register(
    "events_forecast_ses",
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY 1, 2
),
series AS (
  SELECT event_type,
         list_transform(
           list_sort(list({{'day': day, 'cents': cents}})),
           r -> {{'chk': CAST(0 AS BIGINT), 's': r.cents, 'n': CAST(1 AS BIGINT)}}
         ) AS elems
  FROM daily GROUP BY event_type
),
folded AS (
  -- chk accumulates the PREVIOUS step's s only (never the s computed in
  -- the same struct literal): DuckDB evaluates struct-literal lambda
  -- fields SEQUENTIALLY against an in-place accumulator, so a later
  -- field reading acc.s would see the value just written by an earlier
  -- field.  With chk FIRST and reading only old fields, the fold is
  -- correct under both in-place and snapshot semantics.  The final s is
  -- added to the checksum after the fold.
  SELECT event_type,
         list_reduce(elems, (acc, e) -> {{
           'chk': (acc.chk + acc.s) % {SES_P},
           's': (e.s + 3 * acc.s) // 4,
           'n': acc.n + 1
         }}) AS st
  FROM series
)
SELECT event_type,
       CAST(st.n AS BIGINT) AS n_days,
       CAST(st.s AS BIGINT) AS forecast_cents,
       CAST((st.chk + st.s) % {SES_P} AS BIGINT) AS path_checksum
FROM folded
""",
    doc="Time-series forecasting via simple exponential smoothing on the "
    "integer-cents grid: per event type, the daily value series folds "
    "through s_t = (x_t + 3*s_(t-1)) div 4 (alpha = 1/4 as exact "
    "integer arithmetic -- the same floor-division trick that makes "
    "PageRank and CUSUM bit-identical cross-engine); the final state "
    "IS the one-step-ahead forecast, and a running checksum pins the "
    "whole smoothed path, not just its endpoint.  A sequential "
    "recurrence is not window-expressible, so both engines run it as "
    "ONE ordered-array fold per group (F.aggregate / list_reduce) -- "
    "group state is |days| per key, the natural bound.",
    tags=("timeseries", "forecast", "aggregation"),
)
def events_forecast_ses(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr(
            "unix_micros(date_trunc('day', ts)) div 86400000000"
        ).alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    series = daily.groupBy("event_type").agg(
        F.expr("sort_array(collect_list(struct(day, cents)))").alias("arr")
    )
    folded = series.select(
        "event_type",
        F.expr(
            f"""aggregate(
              arr,
              named_struct('chk', 0L, 's', -1L, 'n', 0L),
              (acc, r) -> CASE WHEN acc.n = 0
                THEN named_struct('chk', 0L, 's', r.cents, 'n', 1L)
                ELSE named_struct(
                  'chk', (acc.chk + acc.s) % {SES_P},
                  's', (r.cents + 3L * acc.s) div 4L,
                  'n', acc.n + 1L)
              END)"""
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        F.col("st.n").cast("bigint").alias("n_days"),
        F.col("st.s").cast("bigint").alias("forecast_cents"),
        F.expr(f"(st.chk + st.s) % {SES_P}")
        .cast("bigint")
        .alias("path_checksum"),
    )


# Autocorrelation: lag join over present hourly buckets; per-pair deviation
# products quantized to 1e-6 int64 before summation (order-free reduction).
ACF_MAX_LAG = 3


def _acf_dev(col: str, st: str = "") -> str:
    # (x - mean) with mean = s1/n rendered identically on both engines:
    # cents are exact int64, the division and subtraction are one IEEE op
    # each over identical operands.  ``st`` prefixes the stats columns for
    # contexts where bare names are ambiguous.
    return (
        f"(cast({col} as double)"
        f" - cast({st}s1 as double) / cast({st}n as double))"
    )


@register(
    "events_autocorr",
    oracle=f"""
WITH hourly AS MATERIALIZED (
  SELECT event_type, epoch_us(ts) // {HOUR_US} AS bucket,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s1
  FROM hourly GROUP BY 1
),
dev AS MATERIALIZED (
  SELECT h.event_type, h.bucket, h.cents, s.n, s.s1,
         CAST(FLOOR({_acf_dev('h.cents')} * {_acf_dev('h.cents')} * 1e-6)
              AS BIGINT) AS d2_q
  FROM hourly h JOIN stats s USING (event_type)
),
denom AS (
  SELECT event_type, CAST(SUM(d2_q) AS BIGINT) AS ss_q
  FROM dev GROUP BY 1
),
lags AS (
  SELECT l.lag_k, a.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(FLOOR({_acf_dev('a.cents', 'a.')}
                             * {_acf_dev('b.cents', 'a.')}
                             * 1e-6) AS BIGINT)) AS BIGINT) AS num_q
  FROM (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag_k) l
  JOIN dev a ON TRUE
  JOIN dev b ON b.event_type = a.event_type
            AND b.bucket = a.bucket + l.lag_k
  GROUP BY 1, 2
)
SELECT g.event_type, CAST(g.lag_k AS INT) AS lag_k, g.n_pairs,
       g.num_q, d.ss_q,
       CAST(g.num_q AS DOUBLE) / CAST(d.ss_q AS DOUBLE) AS acf
FROM lags g JOIN denom d USING (event_type)
WHERE d.ss_q > 0
""",
    doc="Lag-1..{k} autocorrelation of the hourly value series per event "
    "type -- THE seasonality/persistence diagnostic run before any "
    "forecasting model is chosen (complements events_forecast_ses and "
    "the OLS trend).  Missing hours drop pairs on both sides "
    "identically (lag JOIN on bucket+k over PRESENT buckets, not a "
    "row-offset window -- the honest ACF for irregular series).  "
    "Exactness: hourly sums are integer cents; each deviation product "
    "is one identical IEEE expression quantized to 1e-6 int64 BEFORE "
    "the cross-bucket sum (order-free reduction, the chi-square "
    "recipe); the final r_k is one division of identical int64 "
    "operands.  100 TB shape: the heavy aggregate is (event_type, "
    "hour) with map-side combine; everything after runs on the tiny "
    "bucket series -- the lag join is |buckets| x {k}, broadcast "
    "scale.".format(k=ACF_MAX_LAG),
    tags=("timeseries", "autocorrelation", "stats"),
)
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type",
            F.expr(f"unix_micros(ts) div {HOUR_US}").alias("bucket"),
        )
        .agg(
            F.sum(F.expr("cast(floor(value * 100) as bigint)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
    )
    dev = (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "bucket",
            "cents",
            "n",
            "s1",
            F.expr(
                f"cast(floor({_acf_dev('cents')} * {_acf_dev('cents')}"
                " * 1e-6) as bigint)"
            ).alias("d2_q"),
        )
    )
    dev = track_persist(dev)
    denom = dev.groupBy("event_type").agg(
        F.sum("d2_q").cast("bigint").alias("ss_q")
    )
    ks = spark.range(1, ACF_MAX_LAG + 1, numPartitions=1).selectExpr("id as lag_k")
    a = dev.selectExpr(
        "event_type", "bucket", "cents AS cents_a", "n", "s1"
    )
    b = dev.selectExpr(
        "event_type AS event_type_b", "bucket AS bucket_b",
        "cents AS cents_b",
    )
    pairs = a.crossJoin(F.broadcast(ks)).join(
        b,
        (F.col("event_type_b") == F.col("event_type"))
        & (F.col("bucket_b") == F.col("bucket") + F.col("lag_k")),
    )
    num_expr = (
        f"cast(floor({_acf_dev('cents_a')} * {_acf_dev('cents_b')}"
        " * 1e-6) as bigint)"
    )
    lags = pairs.groupBy("lag_k", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr(f"sum({num_expr})").cast("bigint").alias("num_q"),
    )
    return (
        lags.join(F.broadcast(denom), "event_type")
        .where("ss_q > 0")
        .select(
            "event_type",
            F.col("lag_k").cast("int").alias("lag_k"),
            "n_pairs",
            "num_q",
            "ss_q",
            F.expr("cast(num_q as double) / cast(ss_q as double)").alias(
                "acf"
            ),
        )
    )


# --- Forecast backtest (naive baselines, exact integer error metrics) ---------


@register(
    "orders_backtest_naive",
    oracle="""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT ym, rev_cents,
         lag(rev_cents, 1) OVER (ORDER BY ym) AS f_last,
         lag(rev_cents, 12) OVER (ORDER BY ym) AS f_seas
  FROM monthly
),
eval_ AS (
  SELECT ym, rev_cents, f_last, f_seas,
         ABS(f_last - rev_cents) AS ae_last,
         ABS(f_seas - rev_cents) AS ae_seas
  FROM lagged WHERE f_last IS NOT NULL AND f_seas IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_months,
       CAST(SUM(ae_last) AS BIGINT) AS mae_num_last_cents,
       CAST(SUM(ae_seas) AS BIGINT) AS mae_num_seas_cents,
       CAST(SUM(f_last - rev_cents) AS BIGINT) AS bias_last_cents,
       CAST(SUM(f_seas - rev_cents) AS BIGINT) AS bias_seas_cents,
       CAST(SUM(CASE WHEN ae_seas < ae_last THEN 1 ELSE 0 END) AS BIGINT)
         AS months_seasonal_wins
FROM eval_
""",
    doc="Forecast BACKTEST harness over monthly order revenue: the two "
    "naive baselines every forecasting deployment must beat -- "
    "last-month carry-forward (lag 1) and seasonal naive (lag 12) -- "
    "scored against each realized month with exact integer-cents "
    "absolute-error sums, signed bias, and the per-month win count "
    "(the model-selection readout).  Plan shape: one map-side monthly "
    "aggregate collapses the fact table to <=84 month rows, then lag "
    "windows and the error rollup run on that bounded frame -- the "
    "unpartitioned window is safe at ANY fact scale because the time "
    "axis, not the data, bounds it.  All error metrics are integers; "
    "no double ever forms, so the cross-engine hash is trivially "
    "exact.  Complements events_forecast_ses (the model) and "
    "orders_seasonality_index (the seasonal structure) with the "
    "EVALUATION side of the forecasting loop.",
    tags=("orders", "timeseries", "forecast", "backtest"),
)
def orders_backtest_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.expr(
            "cast(year(o_orderdate) * 12 + month(o_orderdate) as bigint)"
        ).alias("ym")
    ).agg(
        F.expr(
            "cast(sum(cast(cast(o_totalprice as decimal(18,2)) * 100"
            " as bigint)) as bigint)"
        ).alias("rev_cents")
    )
    # global-window: per-month revenue aggregate (calendar-bounded)
    w = Window.orderBy("ym")
    lagged = monthly.select(
        "ym",
        "rev_cents",
        F.lag("rev_cents", 1).over(w).alias("f_last"),
        F.lag("rev_cents", 12).over(w).alias("f_seas"),
    )
    ev = lagged.where(
        F.col("f_last").isNotNull() & F.col("f_seas").isNotNull()
    ).select(
        "rev_cents",
        "f_last",
        "f_seas",
        F.abs(F.col("f_last") - F.col("rev_cents")).alias("ae_last"),
        F.abs(F.col("f_seas") - F.col("rev_cents")).alias("ae_seas"),
    )
    return ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_months"),
        F.sum("ae_last").cast("bigint").alias("mae_num_last_cents"),
        F.sum("ae_seas").cast("bigint").alias("mae_num_seas_cents"),
        F.sum(F.col("f_last") - F.col("rev_cents"))
        .cast("bigint")
        .alias("bias_last_cents"),
        F.sum(F.col("f_seas") - F.col("rev_cents"))
        .cast("bigint")
        .alias("bias_seas_cents"),
        F.sum(F.when(F.col("ae_seas") < F.col("ae_last"), 1).otherwise(0))
        .cast("bigint")
        .alias("months_seasonal_wins"),
    )


# --- Holt linear-trend forecast (double exponential smoothing) ----------------
# SES extended with a trend term: l_t = (x_t + 3(l+b)) fdiv 4,
# b_t = ((l_t - l) + 3b) fdiv 4 (alpha = beta = 1/4 on the integer-cents
# grid).  The state is carried as (m, b) with m = l + b -- m IS the
# one-step-ahead forecast.  The trend can go negative, so every division
# is the explicit floor-division CASE (engines' integer '/' truncates).
#
# Oracle shape: TWO coupled recurrence fields cannot ride DuckDB's
# list_reduce struct fold -- whichever field is written second reads the
# other's NEW value under the in-place accumulator (the SES note), and
# inlining cannot save both.  The oracle therefore walks the series with a
# RECURSIVE CTE (each level reads only the previous row -- snapshot
# semantics by construction); Spark's aggregate() builds a fresh struct
# per step and keeps the natural fold.


def _holt_fd(a: str, spark_side: bool) -> str:
    d = "div" if spark_side else "//"
    return (
        f"(case when ({a}) >= 0 then ({a}) {d} 4"
        f" else -((-({a}) + 3) {d} 4) end)"
    )


def _holt_steps(x: str, m: str, b: str, spark_side: bool) -> tuple[str, str]:
    """(m_new, b_new) rendered from the OLD state only."""
    lt = _holt_fd(f"{x} + 3 * {m}", spark_side)
    bt = _holt_fd(f"{lt} - ({m} - {b}) + 3 * {b}", spark_side)
    return f"({lt} + {bt})", bt


_HOLT_M_D, _HOLT_B_D = _holt_steps(
    "elems[step + 1].cents", "m", "b", spark_side=False
)
_HOLT_M_S, _HOLT_B_S = _holt_steps("e.m", "acc.m", "acc.b", spark_side=True)


@register(
    "events_forecast_holt",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY 1, 2
),
series AS MATERIALIZED (
  SELECT event_type,
         list_transform(list_sort(list({{'day': day, 'cents': cents}})),
                        r -> {{'cents': r.cents}}) AS elems,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type
),
walk AS (
  SELECT event_type, CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS chk,
         CAST(elems[1].cents AS BIGINT) AS m, CAST(0 AS BIGINT) AS b,
         n, elems
  FROM series
  UNION ALL
  SELECT event_type, step + 1,
         (chk + m) % {SES_P},
         CAST({_HOLT_M_D} AS BIGINT),
         CAST({_HOLT_B_D} AS BIGINT),
         n, elems
  FROM walk WHERE step < n
)
SELECT event_type,
       n AS n_days,
       CAST(m AS BIGINT) AS forecast_next_cents,
       CAST(b AS BIGINT) AS trend_cents,
       CAST(m - b AS BIGINT) AS level_cents,
       CAST((chk + m) % {SES_P} AS BIGINT) AS path_checksum
FROM walk WHERE step = n
""",
    doc="Holt linear-trend forecasting (double exponential smoothing) on "
    "the integer-cents grid: per event type the daily series folds "
    "through level and trend recurrences with alpha = beta = 1/4 as "
    "exact floor divisions, carrying (m = level + trend, trend) so the "
    "final m IS the one-step-ahead forecast; a running checksum pins "
    "the whole smoothed path.  Trend handles what SES cannot -- a "
    "drifting series -- and the trend sign is itself the drift "
    "diagnostic.  Spark runs one ordered-array fold per group "
    "(fresh-struct semantics); the oracle walks the same recurrence "
    "with a recursive CTE because two coupled state fields cannot "
    "survive DuckDB's in-place struct-literal fold (module comment).  "
    "Group state is |days| per key; one shuffle on event_type.",
    tags=("timeseries", "forecast", "aggregation", "iterative"),
    bench=True,
)
def events_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr(
            "unix_micros(date_trunc('day', ts)) div 86400000000"
        ).alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, cents))),"
            " r -> named_struct('m', r.cents))"
        ).alias("elems")
    )
    folded = series.select(
        "event_type",
        F.expr(
            f"""aggregate(
              elems,
              named_struct('chk', 0L, 'm', -1L, 'b', 0L, 'n', 0L),
              (acc, e) -> CASE WHEN acc.n = 0
                THEN named_struct('chk', 0L, 'm', e.m, 'b', 0L, 'n', 1L)
                ELSE named_struct(
                  'chk', (acc.chk + acc.m) % {SES_P},
                  'm', cast({_HOLT_M_S} as bigint),
                  'b', cast({_HOLT_B_S} as bigint),
                  'n', acc.n + 1L)
              END)"""
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        F.col("st.n").cast("bigint").alias("n_days"),
        F.col("st.m").cast("bigint").alias("forecast_next_cents"),
        F.col("st.b").cast("bigint").alias("trend_cents"),
        F.expr("st.m - st.b").cast("bigint").alias("level_cents"),
        F.expr(f"(st.chk + st.m) % {SES_P}")
        .cast("bigint")
        .alias("path_checksum"),
    )


# --- DAU / WAU engagement (stickiness ratio) ----------------------------------


@register(
    "events_dau_wau",
    oracle="""
WITH presence AS (
  SELECT DISTINCT user_id,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM presence),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM presence GROUP BY day
),
covered AS (
  -- a presence row (user, day) makes the user weekly-active for the 7
  -- target days [day, day+6]; expanding to those days turns the range
  -- join into an equi-shape distinct count (no nested-loop join).
  SELECT DISTINCT p.user_id, unnest(range(p.day, p.day + 7)) AS day
  FROM presence p
),
wau AS (
  SELECT c.day, CAST(COUNT(*) AS BIGINT) AS wau
  FROM covered c JOIN days d ON d.day = c.day
  GROUP BY c.day
)
SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
FROM dau JOIN wau ON wau.day = dau.day
ORDER BY day
""",
    doc="DAU/WAU engagement with the stickiness ratio -- the product-health "
    "metric every growth dashboard leads with: per epoch-day distinct "
    "actives, trailing-7-day distinct actives (a range join of the "
    "deduplicated (user, day) PRESENCE table against the tiny day "
    "dimension -- never the raw event stream), and their ratio as one "
    "exact IEEE division.  Scale shape: presence is |users| x "
    "|active days| after one distinct, each presence row expands to the "
    "7 target days it covers (turning the range join into equi-joins "
    "and map-side distinct -- no nested-loop join in the plan), and "
    "the day dimension broadcasts -- the same bounded-horizon "
    "discipline as the retention queries; raw events are touched "
    "exactly once.",
    tags=("events", "timeseries", "engagement", "join"),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    presence = events.select(
        "user_id",
        F.expr("unix_micros(date_trunc('day', ts)) div 86400000000").alias(
            "day"
        ),
    ).distinct()
    days = presence.select("day").distinct()
    dau = presence.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    covered = presence.select(
        "user_id", F.explode(F.expr("sequence(day, day + 6)")).alias("d")
    ).distinct()
    wau = (
        covered.join(
            F.broadcast(days.withColumnRenamed("day", "d")), "d"
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.d)
        .select(
            F.col("day").cast("bigint").alias("day"),
            "dau",
            "wau",
            F.expr("cast(dau as double) / cast(wau as double)").alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# --- Kaplan-Meier survival (time-to-conversion with right censoring) ----------
# Survival analysis over the event stream: per user, entry = first event of
# any type, event = first 'purchase'; users who never purchase are
# right-censored at their last observed event.  The KM estimator
# S(t) = prod_{t_i <= t} (n_i - d_i) / n_i is a sequential product, carried
# on an integer grid (surv_q = floor-scaled by SURV_SCALE each step) so
# both engines walk bit-identical states -- the SES/Holt integer-fold
# recipe applied to survival curves.  Standard KM tie convention: subjects
# censored at t remain at risk for events at t.
#
# Integer budget: acc.s <= SURV_SCALE = 1e9 and n_risk multiplies it once
# before the floor division, so the intermediate is <= 1e9 * n_users --
# safe in int64 through ~9e9 users (any realistic corpus; above that drop
# the scale to 1e6).
#
# 100 TB shape: ONE shuffle on user_id for the per-user triple
# (entry, conversion, last-seen), then the day-level table is bounded by
# the calendar span (|distinct durations| rows), so the global window and
# the ordered fold are k-bounded driver-free operations on a tiny frame --
# the same bounded-state argument as the forecast folds above.

SURV_SCALE = 1_000_000_000
DAY_US = 86_400_000_000


@register(
    "events_survival_km",
    oracle=f"""
WITH RECURSIVE pe AS (
  SELECT user_id, epoch_us(ts) AS t, (event_type = 'purchase') AS isp
  FROM events
),
pu AS (
  SELECT user_id, MIN(t) AS t0, MIN(t) FILTER (isp) AS tp, MAX(t) AS tmax
  FROM pe GROUP BY user_id
),
du AS (
  SELECT CAST((COALESCE(tp, tmax) - t0) // {DAY_US} AS BIGINT) AS dur,
         (tp IS NOT NULL) AS observed
  FROM pu
),
pd AS (
  SELECT dur,
         CAST(COUNT(*) FILTER (observed) AS BIGINT) AS d,
         CAST(COUNT(*) FILTER (NOT observed) AS BIGINT) AS c
  FROM du GROUP BY dur
),
nr AS (
  SELECT dur, d, c,
         CAST(SUM(d + c) OVER ()
              - COALESCE(SUM(d + c) OVER (ORDER BY dur
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS nrk
  FROM pd
),
series AS MATERIALIZED (
  SELECT list_sort(list({{'dur': dur, 'd': d, 'c': c, 'nr': nrk}})) AS elems,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM nr
),
walk AS (
  SELECT CAST(1 AS BIGINT) AS step,
         CAST((CAST({SURV_SCALE} AS BIGINT) * (elems[1].nr - elems[1].d))
              // elems[1].nr AS BIGINT) AS s,
         n, elems
  FROM series
  UNION ALL
  SELECT step + 1,
         CAST((s * (elems[step + 1].nr - elems[step + 1].d))
              // elems[step + 1].nr AS BIGINT),
         n, elems
  FROM walk WHERE step < n
)
SELECT CAST(elems[step].dur AS BIGINT) AS dur_days,
       CAST(elems[step].nr AS BIGINT) AS n_risk,
       CAST(elems[step].d AS BIGINT) AS n_event,
       CAST(elems[step].c AS BIGINT) AS n_censor,
       CAST(s AS BIGINT) AS surv_q
FROM walk
ORDER BY dur_days
""",
    doc="Kaplan-Meier survival curve for time-to-first-purchase with right "
    "censoring at last-seen: per user one (entry, conversion, last-seen) "
    "triple (one user_id shuffle), then the day-level life table "
    "(at-risk / events / censored per distinct duration, standard "
    "censored-after-events tie convention) and the survival product "
    f"S(t) carried exactly as floor(s * (n-d) / n) on the {SURV_SCALE} "
    "integer grid -- a sequential recurrence, so both engines walk it "
    "as ONE ordered fold over the bounded day-level array (F.aggregate "
    "/ recursive CTE), the SES/Holt integer-fold recipe (module note "
    "on the int64 budget).  The curve is the churn/conversion readout "
    "product teams plot; the life-table columns are the auditable "
    "intermediates.",
    tags=("events", "timeseries", "survival", "stats", "iterative"),
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pe = events.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("t"),
        F.expr("event_type = 'purchase'").alias("isp"),
    )
    pu = pe.groupBy("user_id").agg(
        F.min("t").alias("t0"),
        F.min(F.when(F.col("isp"), F.col("t"))).alias("tp"),
        F.max("t").alias("tmax"),
    )
    du = pu.select(
        F.expr(f"cast((coalesce(tp, tmax) - t0) div {DAY_US} as bigint)").alias(
            "dur"
        ),
        F.expr("tp is not null").alias("observed"),
    )
    pd_ = du.groupBy("dur").agg(
        F.expr("cast(count(case when observed then 1 end) as bigint)").alias(
            "d"
        ),
        F.expr(
            "cast(count(case when not observed then 1 end) as bigint)"
        ).alias("c"),
    )
    # Day-level frame: |rows| = distinct durations <= calendar span, so the
    # single-partition windows below are k-bounded, not data-sized.
    # global-window: distinct-duration table (calendar-span-bounded, see above)
    w_all = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # global-window: same distinct-duration table as w_all
    w_prev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = F.col("d") + F.col("c")
    nr = pd_.select(
        "dur",
        "d",
        "c",
        (
            F.sum(risk).over(w_all)
            - F.coalesce(F.sum(risk).over(w_prev), F.lit(0))
        )
        .cast("bigint")
        .alias("nr"),
    )
    arr = nr.agg(
        F.expr("sort_array(collect_list(struct(dur, d, c, nr)))").alias("arr")
    )
    folded = arr.select(
        F.expr(
            f"""aggregate(
          arr,
          named_struct(
            'out',
            cast(array() as
                 array<struct<dur:bigint,d:bigint,c:bigint,nr:bigint,
                              surv:bigint>>),
            's', cast({SURV_SCALE} as bigint)),
          (acc, e) -> named_struct(
            'out', concat(acc.out, array(named_struct(
              'dur', e.dur, 'd', e.d, 'c', e.c, 'nr', e.nr,
              'surv', (acc.s * (e.nr - e.d)) div e.nr))),
            's', (acc.s * (e.nr - e.d)) div e.nr))"""
        ).alias("st")
    )
    return (
        folded.select(F.expr("inline(st.out)"))
        .select(
            F.col("dur").alias("dur_days"),
            F.col("nr").alias("n_risk"),
            F.col("d").alias("n_event"),
            F.col("c").alias("n_censor"),
            F.col("surv").alias("surv_q"),
        )
        .orderBy("dur_days")
    )


# --- interval analytics: peak concurrency via a distributed sweep-line --------
# Max concurrent user sessions per day.  Sessions come from the repo's
# gap-sessionization (lag + running flag sum, one shuffle on user_id); a
# session is "active" on [first_event, last_event + gap) -- the half-open
# convention means touching sessions never overlap.  The sweep line is the
# classic +1/-1 boundary scan, but expressed as a DISTRIBUTED two-phase
# prefix sum instead of one global ordered window: boundaries partition by
# day, each day computes its local running sum, and a per-day carry (the
# cumulative boundary total of all earlier days) shifts the local sums to
# global concurrency.  The carry table has |days| rows, so its ordered
# window is driver-bounded and broadcasts back -- no single-partition sort
# of the full boundary stream ever exists in the plan.  At 100 TB the
# bucket is a KNOB: drop day -> hour and the same two-phase shape holds
# with 24x more carry rows and 24x less per-bucket sort volume.
#
# Tie discipline (cross-engine exact): boundaries order by (t, delta), so
# ends (-1) sort before starts (+1) at the same microsecond -- the
# half-open convention again.  Both engines' default cumulative frame is
# RANGE (peer-inclusive); within a tie group all deltas are equal, so the
# peer-inclusive value is order-independent, and the per-day MAX sees the
# true post-group concurrency either way.
#
# Reference scope: interval/sweep analytics is north-star surface (the
# reference engine has no session or interval operators).

CONC_GAP_MIN = 480  # same testdata-tuned gap as the streaming family
CONC_GAP_US = CONC_GAP_MIN * 60 * 1_000_000

def _gap_session_ctes(
    extra_expr: str | None = None, extra_name: str | None = None
) -> str:
    """e/flagged/sess CTE chain: gap-sessionization at CONC_GAP_US with a
    (ts_us, event_id) total order -- the ONE oracle-side definition the
    interval-analytics queries share.  ``extra_expr``/``extra_name``
    thread one additional per-event column (e.g. the funnel's step
    letter) through the chain."""
    extra = f", {extra_expr} AS {extra_name}" if extra_expr else ""
    extra_cols = f", {extra_name}" if extra_expr else ""
    return f"""e AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id{extra} FROM events
),
flagged AS (
  SELECT user_id, ts_us, event_id{extra_cols},
         CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > {CONC_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT user_id, ts_us, event_id{extra_cols},
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)"""


_CONC_SESSIONS_CTE = f"""
WITH {_gap_session_ctes()},
sessions AS (
  SELECT user_id, session_seq,
         MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
  FROM sess GROUP BY user_id, session_seq
)
"""


@register(
    "events_concurrency_peak",
    oracle=_CONC_SESSIONS_CTE
    + f""",
bounds AS (
  SELECT start_us AS t, 1 AS delta FROM sessions
  UNION ALL
  SELECT end_us + {CONC_GAP_US} AS t, -1 AS delta FROM sessions
),
conc AS (
  SELECT t, SUM(delta) OVER (ORDER BY t, delta) AS c FROM bounds
),
d AS (
  SELECT t // {DAY_US} AS day, t, c,
         MAX(c) OVER (PARTITION BY t // {DAY_US}) AS peak
  FROM conc
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(peak AS BIGINT) AS peak_concurrency,
       CAST(MIN(CASE WHEN c = peak THEN t END) AS BIGINT) AS peak_at_us
FROM d GROUP BY day, peak ORDER BY day
""",
    doc="Per-day peak concurrent sessions + the first instant attaining "
    "it, via a distributed two-phase sweep line: per-day local prefix "
    "sums plus a |days|-row carry table, never a global ordered sort.  "
    "The oracle runs the textbook single-window sweep -- pinning that "
    "the carry decomposition is exact.",
    tags=("events", "timeseries", "intervals", "window"),
    bench=True,
)
def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events_stream import sessionize_batch

    events = load_table(spark, sf_dir, "events")
    sessions = sessionize_batch(events, gap_minutes=CONC_GAP_MIN)
    # One pass, not a self-union: each session EXPLODES into its two
    # boundaries, so the sessionize pipeline (scan + user_id shuffle)
    # exists once in the plan instead of once per union branch.
    bounds = sessions.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("start_us").alias("t"), F.lit(1).alias("delta")
                ),
                F.struct(
                    (F.col("end_us") + F.lit(CONC_GAP_US)).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("b")
    ).select("b.t", "b.delta")
    b = bounds.withColumn("day", F.expr(f"t div {DAY_US}"))
    # Phase 1: within-day running sum (shuffle on day; per-day volume is
    # the scale knob -- see module comment).
    w_in = Window.partitionBy("day").orderBy("t", "delta")
    local = b.withColumn("pref", F.sum("delta").over(w_in))
    # Phase 2: per-day carry = total boundary delta of all EARLIER days.
    # Derived from the already-day-partitioned windowed frame: the day's
    # total is its LAST running value (max struct by the window's own
    # (t, delta) order), and grouping by day on a day-partitioned frame
    # needs no new exchange -- phase 2 rides phase 1's shuffle.
    # |days| rows -- the unpartitioned window is bounded by the calendar.
    day_tot = local.groupBy("day").agg(
        F.max(F.struct("t", "delta", "pref"))["pref"].alias("tot")
    )
    # global-window: per-day totals (calendar-bounded, see comment above)
    w_prev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = day_tot.select(
        "day", F.coalesce(F.sum("tot").over(w_prev), F.lit(0)).alias("carry")
    )
    conc = local.join(F.broadcast(carry), "day").withColumn(
        "c", (F.col("carry") + F.col("pref")).cast("bigint")
    )
    w_day = Window.partitionBy("day")
    peaked = conc.withColumn("peak", F.max("c").over(w_day))
    return (
        peaked.groupBy("day", "peak")
        .agg(
            F.min(F.when(F.col("c") == F.col("peak"), F.col("t")))
            .cast("bigint")
            .alias("peak_at_us")
        )
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.col("peak").cast("bigint").alias("peak_concurrency"),
            "peak_at_us",
        )
        .orderBy("day")
    )


# --- sequence-pattern funnel (MATCH_RECOGNIZE-style, regex over sessions) -----
# Share of sessions whose ordered event-type sequence matches
# view -> (anything) -> click -> (anything) -> purchase.  Each session
# becomes one compact string (one char per event, first letter of the
# type -- unique across the five testdata types), and the pattern is a
# plain regex: the same declarative shape SQL MATCH_RECOGNIZE compiles
# to, expressed with engine-portable pieces.  Ordering inside a session
# is pinned by (ts_us, event_id) in BOTH engines: Spark sorts the
# collected (ts_us, event_id, step) structs (sort_array is a total
# order on structs), DuckDB uses STRING_AGG ... ORDER BY.  One shuffle
# on user_id (sessionize), one on (user_id, session_seq) collapse;
# session strings are bounded by session length, the day rollup is tiny.
@register(
    "events_pattern_funnel",
    oracle=f"""
WITH {_gap_session_ctes("substr(event_type, 1, 1)", "step")},
paths AS (
  SELECT user_id, session_seq, MIN(ts_us) AS start_us,
         STRING_AGG(step, '' ORDER BY ts_us, event_id) AS path
  FROM sess GROUP BY user_id, session_seq
),
agg AS (
  SELECT start_us // {DAY_US} AS day,
         COUNT(*) AS n_sessions,
         COUNT(*) FILTER (regexp_matches(path, 'v.*c.*p')) AS n_matched
  FROM paths GROUP BY 1
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(n_sessions AS BIGINT) AS n_sessions,
       CAST(n_matched AS BIGINT) AS n_matched,
       CAST(n_matched AS DOUBLE) / CAST(n_sessions AS DOUBLE) AS match_rate
FROM agg ORDER BY day
""",
    doc="MATCH_RECOGNIZE-style ordered-sequence funnel: regex "
    "'v.*c.*p' over per-session event-type strings, rolled up to "
    "matched-session share per day.",
    tags=("events", "timeseries", "funnel", "pattern"),
)
def events_pattern_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.expr("substring(event_type, 1, 1)").alias("step"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > CONC_GAP_US),
            1,
        ).otherwise(0),
    ).withColumn("session_seq", F.sum("is_new").over(wrun))
    paths = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("start_us"),
        F.expr(
            "concat_ws('', transform("
            "sort_array(collect_list(struct(ts_us, event_id, step))),"
            " x -> x.step))"
        ).alias("path"),
    )
    agg = paths.groupBy(
        F.expr(f"start_us div {DAY_US}").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(
            F.when(F.col("path").rlike("v.*c.*p"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_matched"),
    )
    return agg.select(
        F.col("day").cast("bigint").alias("day"),
        "n_sessions",
        "n_matched",
        (
            F.col("n_matched").cast("double")
            / F.col("n_sessions").cast("double")
        ).alias("match_rate"),
    ).orderBy("day")


# --- global ordered enumeration without a global sort --------------------------
# Assign CONTIGUOUS global row numbers over events ordered by
# (ts, event_id) -- the index a training pipeline stamps on shuffled
# samples, or an export needs for resumable pagination.  The naive
# ROW_NUMBER() OVER (ORDER BY ...) plans a single-partition sort of the
# whole table (the one shape that cannot survive 100 TB); this query is
# the two-phase replacement: rows partition by a DATA-DERIVED range key
# (day of ts), each bucket numbers itself locally, and per-bucket counts
# (the local window's own max, so phase 2 rides phase 1's shuffle)
# cumulate into carry offsets on a |days|-row frame that broadcasts
# back.  global_rownum = carry + local_rownum is exact because the
# bucket key is a PREFIX of the global order: day(ts) is monotone in ts,
# so every row in an earlier day precedes every row in a later day.
# The oracle runs the textbook single-window ROW_NUMBER, pinning the
# decomposition.  No rangepartitioning and no full-stream single
# partition exist in the plan (pinned by test).
@register(
    "events_global_rownum",
    oracle=f"""
SELECT event_id,
       ROW_NUMBER() OVER (ORDER BY epoch_us(ts), event_id) AS rownum
FROM events
""",
    doc="Contiguous global row numbers ordered by (ts, event_id) via "
    "two-phase enumeration (per-day local row_number + |days|-row "
    "carry offsets) -- no global sort; the oracle is the "
    "single-window ROW_NUMBER.",
    tags=("events", "window", "enumeration"),
    bench=True,
)
def events_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        F.unix_micros("ts").alias("ts_us"), "event_id"
    ).withColumn("day", F.expr(f"ts_us div {DAY_US}"))
    w_in = Window.partitionBy("day").orderBy("ts_us", "event_id")
    local = e.withColumn("lrn", F.row_number().over(w_in))
    # Per-day row counts from the numbered frame itself (max local
    # row_number) -- grouping by the partition key adds no exchange.
    day_cnt = local.groupBy("day").agg(F.max("lrn").alias("cnt"))
    # global-window: per-day counts (calendar-bounded, see comment above)
    w_prev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = day_cnt.select(
        "day",
        F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)).alias("offset"),
    )
    return local.join(F.broadcast(carry), "day").select(
        "event_id",
        (F.col("offset") + F.col("lrn")).cast("bigint").alias("rownum"),
    )


# --- data-absence detection (monitoring: "the stream went quiet") -------------
# Per event_type, the intervals where the stream was silent for longer
# than GAP_ALERT_US -- the alerting primitive behind "ingestion
# stopped" pages, the complement of the anomaly/changepoint family
# (those detect wrong VALUES; this detects missing DATA).  One shuffle
# on event_type (5 partitions, bounded), a lag window, and a bounded
# output (only the violating gaps).  Emits the gap span, its length,
# and which side touches the stream edge (leading/trailing coverage is
# a different check -- dq_validate_suite owns table-level freshness).
GAP_ALERT_US = 2 * 3_600_000_000  # 2h of silence per type = alert


@register(
    "events_absence_gaps",
    oracle=f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us, event_id FROM events
),
gaps AS (
  SELECT event_type,
         lag(us) OVER (PARTITION BY event_type
                       ORDER BY us, event_id) AS prev_us,
         us
  FROM e
)
SELECT event_type,
       CAST(prev_us AS BIGINT) AS silent_from_us,
       CAST(us AS BIGINT) AS silent_until_us,
       CAST(us - prev_us AS BIGINT) AS gap_us
FROM gaps
WHERE prev_us IS NOT NULL AND us - prev_us > {GAP_ALERT_US}
ORDER BY event_type, silent_from_us
""",
    doc="Data-absence alerts: per event_type, every silent interval "
    "longer than 2h -- the missing-data complement of the value-"
    "anomaly family; one bounded-key shuffle + lag window, output "
    "bounded by the number of violations.",
    tags=("events", "timeseries", "monitoring", "window"),
)
def events_absence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = e.withColumn("prev_us", F.lag("us").over(w))
    return (
        gaps.where(
            F.col("prev_us").isNotNull()
            & (F.col("us") - F.col("prev_us") > GAP_ALERT_US)
        )
        .select(
            "event_type",
            F.col("prev_us").cast("bigint").alias("silent_from_us"),
            F.col("us").cast("bigint").alias("silent_until_us"),
            (F.col("us") - F.col("prev_us")).cast("bigint").alias("gap_us"),
        )
        .orderBy("event_type", "silent_from_us")
    )


# --- classical seasonal-trend decomposition ------------------------------

STL_PERIOD = 7  # weekly seasonality over daily buckets (DAY_US above)


@register(
    "events_stl_decompose",
    oracle=f"""
WITH daily AS (
  SELECT epoch_us(ts) // {DAY_US} AS day, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
win AS (
  SELECT day, y,
         CAST(SUM(y) OVER w AS BIGINT) AS t_sum,
         CAST(COUNT(*) OVER w AS BIGINT) AS t_cnt,
         MIN(day) OVER w AS d_min,
         MAX(day) OVER w AS d_max
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
mid AS (
  SELECT day, day % {STL_PERIOD} AS dow, y,
         CAST(t_sum AS DOUBLE) / CAST({STL_PERIOD} AS DOUBLE) AS trend,
         CAST(FLOOR((CAST(y AS DOUBLE)
                     - CAST(t_sum AS DOUBLE) / CAST({STL_PERIOD} AS DOUBLE))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS dq
  FROM win WHERE t_cnt = {STL_PERIOD} AND d_max - d_min = {STL_PERIOD - 1}
),
seas AS (
  SELECT dow, CAST(SUM(dq) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS seas_q
  FROM mid GROUP BY dow
),
centered AS (
  SELECT dow,
         CAST(CAST(COUNT(*) OVER () AS BIGINT) * seas_q
              - CAST(SUM(seas_q) OVER () AS BIGINT) AS DOUBLE)
         / (CAST(COUNT(*) OVER () AS DOUBLE) * CAST(1000000 AS DOUBLE))
           AS seasonal
  FROM seas
)
SELECT m.day, m.dow, m.y, m.trend, c.seasonal,
       (CAST(m.y AS DOUBLE) - m.trend) - c.seasonal AS residual
FROM mid m JOIN centered c USING (dow)
""",
    doc="Classical additive seasonal-trend decomposition (the moving-average "
    "variant of STL) of the daily event-count series: centered 7-day moving "
    "average as trend, per-week-position truncated-mean of the detrended "
    "series (on a 1e6 integer grid) as the seasonal component -- centered so "
    "the seven indices sum to ~zero -- and the remainder as residual.  Week "
    "position is day-number mod 7 in the integer-micros day domain (position "
    "0 = Thursday).  Exactness: daily counts are integers, the 7-day trend "
    "is one IEEE division, detrended values quantize to int64 before any "
    "cross-row sum, and the seasonal mean uses truncating integer division "
    "rendered as Spark `div` / DuckDB `//` (both truncate toward zero).  "
    "Scale shape: the daily rollup is the only corpus-sized shuffle "
    "(map-side partial counts); the decomposition itself runs on the "
    "k-bounded day series, so the unpartitioned windows are driver-tiny at "
    "any corpus size.",
    tags=("timeseries", "decomposition", "window"),
)
def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.expr(f"unix_micros(ts) div {DAY_US}").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    # global-window: daily series (calendar-bounded)
    w = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "y",
        F.sum("y").over(w).cast("bigint").alias("t_sum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("t_cnt"),
        F.min("day").over(w).alias("d_min"),
        F.max("day").over(w).alias("d_max"),
    )
    mid = win.where(
        (F.col("t_cnt") == STL_PERIOD)
        & (F.col("d_max") - F.col("d_min") == STL_PERIOD - 1)
    ).select(
        "day",
        (F.col("day") % STL_PERIOD).alias("dow"),
        "y",
        F.expr(
            f"cast(t_sum as double) / cast({STL_PERIOD} as double)"
        ).alias("trend"),
        F.expr(
            f"cast(floor((cast(y as double)"
            f" - cast(t_sum as double) / cast({STL_PERIOD} as double))"
            f" * cast(1000000 as double)) as bigint)"
        ).alias("dq"),
    )
    seas = mid.groupBy("dow").agg(
        F.expr("cast(sum(dq) as bigint) div cast(count(*) as bigint)").alias(
            "seas_q"
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    centered = seas.select(
        "dow",
        (
            (
                F.count(F.lit(1)).over(wall).cast("bigint") * F.col("seas_q")
                - F.sum("seas_q").over(wall).cast("bigint")
            ).cast("double")
            / (
                F.count(F.lit(1)).over(wall).cast("double")
                * F.lit(1000000).cast("double")
            )
        ).alias("seasonal"),
    )
    return mid.join(F.broadcast(centered), "dow").select(
        "day",
        "dow",
        "y",
        "trend",
        "seasonal",
        F.expr("(cast(y as double) - trend) - seasonal").alias("residual"),
    )


# --- Theil-Sen robust trend ----------------------------------------------

# Median by explicit rank selection: the VALUE at a rank is multiset-
# determined even when rank assignment among equal values is not, and the
# even-count interpolation (lo + hi) / 2 runs on identical operands in both
# engines.  (DuckDB's median(DOUBLE) happens to interpolate too, but the
# explicit form keeps the expression tree pinned.)


@register(
    "events_theil_sen",
    oracle=f"""
WITH daily AS (
  SELECT user_id, epoch_us(ts) // {DAY_US} AS day,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE user_id < {TS_USERS}
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.user_id,
         (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
         / (CAST(b.day AS DOUBLE) - CAST(a.day AS DOUBLE)) AS slope
  FROM daily a JOIN daily b
    ON a.user_id = b.user_id AND b.day > a.day
),
ranked AS (
  SELECT user_id, slope,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM pairs
),
slope_med AS (
  SELECT user_id, CAST(MAX(cnt) AS BIGINT) AS n_pairs,
         (MIN(slope) + MAX(slope)) / CAST(2 AS DOUBLE) AS slope
  FROM ranked
  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
  GROUP BY user_id
),
icepts AS (
  SELECT d.user_id, s.n_pairs, s.slope,
         CAST(d.y AS DOUBLE) - s.slope * CAST(d.day AS DOUBLE) AS icept
  FROM daily d JOIN slope_med s USING (user_id)
),
iranked AS (
  SELECT user_id, n_pairs, slope, icept,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY icept) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM icepts
)
SELECT user_id,
       CAST(MAX(cnt) AS BIGINT) AS n_days,
       CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
       MAX(slope) AS slope,
       (MIN(icept) + MAX(icept)) / CAST(2 AS DOUBLE) AS intercept
FROM iranked
WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
GROUP BY user_id
""",
    doc="Theil-Sen robust trend estimator per user over the daily "
    "event-count series: slope = median of all pairwise slopes (breakdown "
    "point 29%, immune to outlier days that wreck OLS), intercept = median "
    "of per-day intercepts under that slope.  Medians are explicit "
    "rank-selected values -- the value at a rank is multiset-determined, "
    "and even-count interpolation averages two identical-operand doubles "
    "-- so the estimator is bit-exact cross-engine with no percentile "
    "builtin.  Scale shape: the daily rollup shuffles once on user_id; "
    "the O(d^2) pair join is per-user over the k-bounded day series (30 "
    "days -> 435 pairs), co-partitioned by the same key, so corpus size "
    "only affects the rollup scan -- the estimator cost is fixed per "
    "user regardless of event volume.",
    tags=("timeseries", "regression", "robust"),
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < TS_USERS)
    daily = (
        ev.select(
            "user_id", F.expr(f"unix_micros(ts) div {DAY_US}").alias("day")
        )
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.expr(
            "(cast(b.y as double) - cast(a.y as double))"
            " / (cast(b.day as double) - cast(a.day as double))"
        ).alias("slope"),
    )
    wu = Window.partitionBy("user_id")
    ranked = pairs.select(
        "user_id",
        "slope",
        F.row_number().over(wu.orderBy("slope")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("cnt"),
    )
    slope_med = (
        ranked.where(
            (F.col("rn") == F.expr("(cnt + 1) div 2"))
            | (F.col("rn") == F.expr("(cnt + 2) div 2"))
        )
        .groupBy("user_id")
        .agg(
            F.max("cnt").cast("bigint").alias("n_pairs"),
            F.expr(
                "(min(slope) + max(slope)) / cast(2 as double)"
            ).alias("slope"),
        )
    )
    icepts = daily.join(F.broadcast(slope_med), "user_id").select(
        "user_id",
        "n_pairs",
        "slope",
        F.expr(
            "cast(y as double) - slope * cast(day as double)"
        ).alias("icept"),
    )
    iranked = icepts.select(
        "user_id",
        "n_pairs",
        "slope",
        "icept",
        F.row_number().over(wu.orderBy("icept")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("cnt"),
    )
    return (
        iranked.where(
            (F.col("rn") == F.expr("(cnt + 1) div 2"))
            | (F.col("rn") == F.expr("(cnt + 2) div 2"))
        )
        .groupBy("user_id")
        .agg(
            F.max("cnt").cast("bigint").alias("n_days"),
            F.max("n_pairs").cast("bigint").alias("n_pairs"),
            F.max("slope").alias("slope"),
            F.expr(
                "(min(icept) + max(icept)) / cast(2 as double)"
            ).alias("intercept"),
        )
    )


# --- Holt-Winters additive seasonal forecasting ---------------------------

HW_PERIOD = 7  # weekly seasonality over daily buckets


def _hw_steps(
    x: str, lvl: str, trd: str, s_old: str, spark_side: bool
) -> tuple[str, str, str]:
    """(l_new, b_new, s_new) additive Holt-Winters recurrences with
    alpha = beta = gamma = 1/4 as exact signed floor divisions, rendered
    from the OLD state only (l_new repeats textually inside b_new/s_new --
    snapshot-safe under both Spark's fresh-struct fold and DuckDB's
    recursive CTE)."""
    lt = _holt_fd(f"({x} - ({s_old})) + 3 * (({lvl}) + ({trd}))", spark_side)
    bt = _holt_fd(f"({lt}) - ({lvl}) + 3 * ({trd})", spark_side)
    st = _holt_fd(f"({x} - ({lt})) + 3 * ({s_old})", spark_side)
    return lt, bt, st


_HW_L_D, _HW_B_D, _HW_S_D = _hw_steps(
    "elems[step + 1].cents", "l", "b", f"s[(step % {HW_PERIOD}) + 1]",
    spark_side=False,
)
_HW_L_S, _HW_B_S, _HW_S_S = _hw_steps(
    "e.m", "acc.l", "acc.b",
    f"element_at(acc.s, cast(acc.n % {HW_PERIOD} as int) + 1)",
    spark_side=True,
)

_HW_SUM_D = " + ".join(f"s[{i + 1}]" for i in range(HW_PERIOD))
_HW_SUM_S = " + ".join(
    f"element_at(st.s, {i + 1})" for i in range(HW_PERIOD)
)


@register(
    "events_forecast_holt_winters",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type,
         epoch_us(date_trunc('day', ts)) // 86400000000 AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY 1, 2
),
series AS MATERIALIZED (
  SELECT event_type,
         list_transform(list_sort(list({{'day': day, 'cents': cents}})),
                        r -> {{'cents': r.cents}}) AS elems,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type
),
walk AS (
  SELECT event_type, CAST(1 AS BIGINT) AS step, CAST(0 AS BIGINT) AS chk,
         CAST(elems[1].cents AS BIGINT) AS l, CAST(0 AS BIGINT) AS b,
         [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0] AS s,
         n, elems
  FROM series
  UNION ALL
  SELECT event_type, step + 1,
         (chk + l) % {SES_P},
         CAST({_HW_L_D} AS BIGINT),
         CAST({_HW_B_D} AS BIGINT),
         list_transform(range({HW_PERIOD}), i ->
           CASE WHEN i = step % {HW_PERIOD}
                THEN CAST({_HW_S_D} AS BIGINT) ELSE s[i + 1] END),
         n, elems
  FROM walk WHERE step < n
)
SELECT event_type,
       n AS n_days,
       CAST(l AS BIGINT) AS level_cents,
       CAST(b AS BIGINT) AS trend_cents,
       CAST(s[(n % {HW_PERIOD}) + 1] AS BIGINT) AS season_next_cents,
       CAST(l + b + s[(n % {HW_PERIOD}) + 1] AS BIGINT)
         AS forecast_next_cents,
       CAST({_HW_SUM_D} AS BIGINT) AS season_sum_cents,
       CAST((chk + l) % {SES_P} AS BIGINT) AS path_checksum
FROM walk WHERE step = n
""",
    doc="Holt-Winters additive triple exponential smoothing on the "
    "integer-cents grid: per event type the daily series folds through "
    "level, trend and a 7-slot weekly seasonal state array with alpha = "
    "beta = gamma = 1/4 as exact signed floor divisions (zero-initialized "
    "seasonals, the pinned-deterministic variant).  The one-step-ahead "
    "forecast is level + trend + the next week-position's seasonal; the "
    "seasonal sum and a running level checksum pin the whole smoothed "
    "path.  Completes the classical forecasting triad (SES handles level, "
    "Holt adds drift, Holt-Winters adds seasonality).  Spark runs one "
    "ordered-array fold per group, updating the seasonal slot through an "
    "indexed transform (fresh-struct semantics); the oracle walks the "
    "identical recurrence with a recursive CTE carrying a LIST column "
    "(coupled state cannot survive DuckDB's in-place struct fold).  "
    "Group state is |days| per key; one shuffle on event_type.",
    tags=("timeseries", "forecast", "aggregation", "iterative"),
)
def events_forecast_holt_winters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.expr(
            "unix_micros(date_trunc('day', ts)) div 86400000000"
        ).alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, cents))),"
            " r -> named_struct('m', r.cents))"
        ).alias("elems")
    )
    folded = series.select(
        "event_type",
        F.expr(
            f"""aggregate(
              elems,
              named_struct('chk', 0L, 'l', 0L, 'b', 0L,
                           's', array_repeat(0L, {HW_PERIOD}), 'n', 0L),
              (acc, e) -> CASE WHEN acc.n = 0
                THEN named_struct('chk', 0L, 'l', e.m, 'b', 0L,
                                  's', array_repeat(0L, {HW_PERIOD}),
                                  'n', 1L)
                ELSE named_struct(
                  'chk', (acc.chk + acc.l) % {SES_P},
                  'l', cast({_HW_L_S} as bigint),
                  'b', cast({_HW_B_S} as bigint),
                  's', transform(sequence(0, {HW_PERIOD - 1}), i ->
                    CASE WHEN cast(i as bigint) = acc.n % {HW_PERIOD}
                         THEN cast({_HW_S_S} as bigint)
                         ELSE element_at(acc.s, cast(i as int) + 1) END),
                  'n', acc.n + 1L)
              END)"""
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        F.col("st.n").cast("bigint").alias("n_days"),
        F.col("st.l").cast("bigint").alias("level_cents"),
        F.col("st.b").cast("bigint").alias("trend_cents"),
        F.expr(f"element_at(st.s, cast(st.n % {HW_PERIOD} as int) + 1)")
        .cast("bigint")
        .alias("season_next_cents"),
        F.expr(
            f"st.l + st.b"
            f" + element_at(st.s, cast(st.n % {HW_PERIOD} as int) + 1)"
        )
        .cast("bigint")
        .alias("forecast_next_cents"),
        F.expr(_HW_SUM_S).cast("bigint").alias("season_sum_cents"),
        F.expr(f"(st.chk + st.l) % {SES_P}")
        .cast("bigint")
        .alias("path_checksum"),
    )


# --- HMM Viterbi decoding -------------------------------------------------

# 3-state session HMM over the event-type stream.  Parameters are FIXED
# integer log2-probability costs scaled by 100 (in a real pipeline these
# come from Baum-Welch training; serving-side decode is the engine
# capability, like the fastText-shaped classifier in queries_text).  All
# Viterbi arithmetic is int64 addition and max, so the decode -- scores,
# argmax backpointers, and therefore the full path -- is bit-exact
# cross-engine.  The best path per state is tracked as a running
# checksum (chk' = chk[argmax] * 31 + state mod P), which pins the exact
# Viterbi PATH without materializing per-step backpointer tables.
HMM_STATES = (1, 2, 3)  # ENGAGED, STRUGGLING, CONVERTING
HMM_T = {  # transition costs T[i][j]
    1: {1: -50, 2: -230, 3: -330},
    2: {1: -230, 2: -70, 3: -400},
    3: {1: -150, 2: -300, 3: -100},
}
HMM_E = {  # emission costs E[state][event_type]
    1: {"view": -120, "click": -130, "signup": -350, "error": -450,
        "purchase": -400},
    2: {"view": -250, "click": -300, "signup": -400, "error": -80,
        "purchase": -550},
    3: {"view": -350, "click": -250, "signup": -250, "error": -500,
        "purchase": -100},
}
HMM_P = 1_000_000_007
HMM_USERS = 100


def _hmm_emit(j: int, obs: str) -> str:
    arms = " ".join(
        f"WHEN '{o}' THEN ({c})" for o, c in HMM_E[j].items()
    )
    return f"(CASE {obs} {arms} ELSE -1000 END)"


def _hmm_step(d: dict[int, str], c: dict[int, str], obs: str) -> dict:
    """Render (d_j', c_j') from OLD state exprs {i: dp_i}, {i: chk_i}."""
    out = {}
    for j in HMM_STATES:
        cand = {i: f"({d[i]} + ({HMM_T[i][j]}))" for i in HMM_STATES}
        best_i = (
            f"(CASE WHEN {cand[1]} >= {cand[2]} AND {cand[1]} >= {cand[3]}"
            f" THEN 1 WHEN {cand[2]} >= {cand[3]} THEN 2 ELSE 3 END)"
        )
        m = f"GREATEST({cand[1]}, {cand[2]}, {cand[3]})"
        out[f"d{j}"] = f"({m} + {_hmm_emit(j, obs)})"
        chk_of_best = (
            f"(CASE {best_i} WHEN 1 THEN {c[1]} WHEN 2 THEN {c[2]}"
            f" ELSE {c[3]} END)"
        )
        out[f"c{j}"] = f"(({chk_of_best} * 31 + {j}) % {HMM_P})"
    return out


_HMM_STEP_D = _hmm_step(
    {i: f"d{i}" for i in HMM_STATES},
    {i: f"c{i}" for i in HMM_STATES},
    "elems[step + 1].o",
)
_HMM_STEP_S = _hmm_step(
    {i: f"acc.d{i}" for i in HMM_STATES},
    {i: f"acc.c{i}" for i in HMM_STATES},
    "e.o",
)

_HMM_BEST = (
    "(CASE WHEN d1 >= d2 AND d1 >= d3 THEN 1"
    " WHEN d2 >= d3 THEN 2 ELSE 3 END)"
)


@register(
    "events_hmm_viterbi",
    oracle=f"""
WITH RECURSIVE seq AS (
  SELECT user_id,
         list_transform(
           list_sort(list({{'us': epoch_us(ts), 'eid': event_id,
                            'o': event_type}})),
           r -> {{'o': r.o}}) AS elems,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE user_id < {HMM_USERS}
  GROUP BY user_id
),
walk AS (
  SELECT user_id, CAST(1 AS BIGINT) AS step, n, elems,
         {", ".join(f"CAST({_hmm_emit(j, 'elems[1].o')} AS BIGINT) AS d{j}" for j in HMM_STATES)},
         {", ".join(f"CAST({j} AS BIGINT) AS c{j}" for j in HMM_STATES)}
  FROM seq
  UNION ALL
  SELECT user_id, step + 1, n, elems,
         {", ".join(f"CAST({_HMM_STEP_D[f'd{j}']} AS BIGINT)" for j in HMM_STATES)},
         {", ".join(f"CAST({_HMM_STEP_D[f'c{j}']} AS BIGINT)" for j in HMM_STATES)}
  FROM walk WHERE step < n
)
SELECT user_id, n AS n_events,
       CAST({_HMM_BEST} AS BIGINT) AS best_state,
       CAST(CASE {_HMM_BEST} WHEN 1 THEN d1 WHEN 2 THEN d2 ELSE d3 END
            AS BIGINT) AS score_q,
       CAST(CASE {_HMM_BEST} WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END
            AS BIGINT) AS path_checksum
FROM walk WHERE step = n
""",
    doc="HMM Viterbi decoding of per-user event streams (3-state session "
    "model over the event-type alphabet): the classic dynamic program "
    "dp'[j] = max_i(dp[i] + T[i][j]) + E[j][obs] folds over each user's "
    "time-ordered sequence entirely in int64 adds/maxes, with argmax "
    "ties resolved to the lowest state index and the best path per "
    "state carried as a running checksum -- so the exact Viterbi PATH, "
    "not just the final score, is oracle-pinned without per-step "
    "backpointer tables.  Parameters are fixed quantized log-prob "
    "costs (serving-side decode; training is out of scope, as with the "
    "fastText-shaped classifier).  Scale shape: one shuffle groups "
    "events by user; the fold is a map-side ordered-array aggregate "
    "(state = 6 int64s regardless of sequence length), the same shape "
    "as the Holt/Holt-Winters folds.  The oracle walks the identical "
    "recurrence with a recursive CTE (coupled state fields).",
    tags=("timeseries", "sequence", "hmm", "iterative"),
)
def events_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id") < HMM_USERS
    )
    seq = events.groupBy("user_id").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(unix_micros(ts) as us,"
            " event_id as eid, event_type as o))),"
            " r -> named_struct('o', r.o))"
        ).alias("elems")
    )
    init_d = ", ".join(
        f"'d{j}', cast({_hmm_emit(j, 'e.o')} as bigint)" for j in HMM_STATES
    )
    init_c = ", ".join(f"'c{j}', {j}L" for j in HMM_STATES)
    step_d = ", ".join(
        f"'d{j}', cast({_HMM_STEP_S[f'd{j}']} as bigint)" for j in HMM_STATES
    )
    step_c = ", ".join(
        f"'c{j}', cast({_HMM_STEP_S[f'c{j}']} as bigint)" for j in HMM_STATES
    )
    folded = seq.select(
        "user_id",
        F.size("elems").cast("bigint").alias("n_events"),
        F.expr(
            f"""aggregate(
              elems,
              named_struct('d1', 0L, 'd2', 0L, 'd3', 0L,
                           'c1', 0L, 'c2', 0L, 'c3', 0L, 'n', 0L),
              (acc, e) -> CASE WHEN acc.n = 0
                THEN named_struct({init_d}, {init_c}, 'n', 1L)
                ELSE named_struct({step_d}, {step_c}, 'n', acc.n + 1L)
              END)"""
        ).alias("st"),
    )
    best = _HMM_BEST.replace("d1", "st.d1").replace("d2", "st.d2").replace(
        "d3", "st.d3"
    )
    return folded.select(
        "user_id",
        "n_events",
        F.expr(best).cast("bigint").alias("best_state"),
        F.expr(
            f"CASE {best} WHEN 1 THEN st.d1 WHEN 2 THEN st.d2"
            " ELSE st.d3 END"
        )
        .cast("bigint")
        .alias("score_q"),
        F.expr(
            f"CASE {best} WHEN 1 THEN st.c1 WHEN 2 THEN st.c2"
            " ELSE st.c3 END"
        )
        .cast("bigint")
        .alias("path_checksum"),
    )


# --- seasonal-adjusted anomaly detection ----------------------------------

# Builds ON the registered STL decomposition (oracle reuses its SQL as a
# CTE; the Spark side calls the same builder), flagging days whose
# residual deviates from the residual median by more than 3 MADs.  The
# median/MAD chain stays integer-exact by working in DOUBLED units:
# med2 = lo+hi central residuals (= 2*median), dev = |2*rq - med2|
# (= 2*|rq - med|), mad2x = lo+hi central devs (= 4*MAD), and the flag
# |rq - med| > 3*MAD becomes the pure-integer test 2*dev > 3*mad2x.


def _stl_anomaly_oracle() -> str:
    from .registry import REGISTRY as _REG

    stl_sql = _REG["events_stl_decompose"].oracle.strip()
    return f"""
WITH stl AS ({stl_sql}),
rq AS (
  SELECT day, dow, y, residual,
         CAST(FLOOR(residual * 1000000e0) AS BIGINT) AS r_q
  FROM stl
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY r_q, day) AS rn,
         COUNT(*) OVER () AS cnt
  FROM rq
),
med AS (
  SELECT CAST(MIN(r_q) + MAX(r_q) AS BIGINT) AS med2
  FROM ranked WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
),
devs AS (
  SELECT r.day, r.dow, r.y, r.residual, r.r_q,
         ABS(2 * r.r_q - m.med2) AS dev
  FROM rq r CROSS JOIN med m
),
dranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY dev, day) AS rn,
         COUNT(*) OVER () AS cnt
  FROM devs
),
mad AS (
  SELECT CAST(MIN(dev) + MAX(dev) AS BIGINT) AS mad2x
  FROM dranked WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
)
SELECT d.day, d.dow, d.y, d.residual,
       CAST(d.dev AS BIGINT) AS dev2x,
       CAST(m.mad2x AS BIGINT) AS mad2x,
       CAST(CASE WHEN m.mad2x > 0 AND 2 * d.dev > 3 * m.mad2x
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM devs d CROSS JOIN mad m
"""


@register(
    "events_anomaly_stl_residual",
    oracle=_stl_anomaly_oracle(),
    doc="Seasonal-adjusted anomaly detection: the STL residual series "
    "(trend and weekly seasonality removed by the registered "
    "events_stl_decompose, whose oracle this one embeds as a CTE) is "
    "screened by a median/MAD rule -- a day flags when its residual "
    "sits more than 3 MADs from the residual median, so weekday "
    "rhythm and growth trends cannot masquerade as anomalies the way "
    "they do under a raw z-score.  The robust statistics stay "
    "integer-exact in doubled units (med2 = 2*median, mad2x = 4*MAD, "
    "flag test 2*dev > 3*mad2x -- no float comparisons), with "
    "rank-selected medians.  Scale shape: inherits the decomposition's "
    "one corpus-sized rollup; the screening runs on the k-bounded day "
    "series.",
    tags=("timeseries", "anomaly", "robust"),
)
def events_anomaly_stl_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    stl = events_stl_decompose(spark, sf_dir).select(
        "day",
        "dow",
        "y",
        "residual",
        F.expr("cast(floor(residual * 1000000e0) as bigint)").alias("r_q"),
    )
    # global-window: day-level STL residual series (calendar-bounded)
    wall = Window.orderBy("r_q", "day")
    cnt_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = stl.select(
        "*",
        F.row_number().over(wall).alias("rn"),
        F.count(F.lit(1)).over(cnt_w).alias("cnt"),
    )
    med = (
        ranked.where(
            (F.col("rn") == F.expr("(cnt + 1) div 2"))
            | (F.col("rn") == F.expr("(cnt + 2) div 2"))
        )
        .agg((F.min("r_q") + F.max("r_q")).cast("bigint").alias("med2"))
    )
    devs = stl.crossJoin(F.broadcast(med)).select(
        "day",
        "dow",
        "y",
        "residual",
        F.expr("abs(2 * r_q - med2)").alias("dev"),
    )
    # global-window: same day-level series (calendar-bounded)
    dwall = Window.orderBy("dev", "day")
    dranked = devs.select(
        "*",
        F.row_number().over(dwall).alias("rn"),
        F.count(F.lit(1)).over(cnt_w).alias("cnt"),
    )
    mad = (
        dranked.where(
            (F.col("rn") == F.expr("(cnt + 1) div 2"))
            | (F.col("rn") == F.expr("(cnt + 2) div 2"))
        )
        .agg((F.min("dev") + F.max("dev")).cast("bigint").alias("mad2x"))
    )
    return devs.crossJoin(F.broadcast(mad)).select(
        "day",
        "dow",
        "y",
        "residual",
        F.col("dev").cast("bigint").alias("dev2x"),
        F.col("mad2x").cast("bigint").alias("mad2x"),
        F.expr(
            "cast(case when mad2x > 0 and 2 * dev > 3 * mad2x"
            " then 1 else 0 end as bigint)"
        ).alias("is_anomaly"),
    )
