"""Windows, events and time series: ranking, running-total and lag
windows, ROWS/RANGE frame variants and LOCF fill, gap sessionization,
tumbling windows and OHLC bars, the as-of join (which Spark has no
native operator for), funnel and cohort analytics, and clickstream
path analysis (`sessions_path_topk`: the ordered event-type sequence
per session as a first-class value, the genre behind MATCH_RECOGNIZE /
funnel-path products).  The reference pipeline (addresses.js) has no
events concept; these rows are the large-scale-pipeline extension
surface.  Determinism rules: see the package docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_addresses_spark.plans import _dec_sum
from etl_addresses_spark.sources.tables import load_table


def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per market segment (rank per group)."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "rnk", "c_custkey", "c_name", "c_acctbal")
    )


WINDOW_TOPK_PER_GROUP_SQL = """
SELECT c_mktsegment, rnk, c_custkey, c_name, c_acctbal FROM (
  SELECT *, row_number() OVER (
    PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer)
WHERE rnk <= 3
"""


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running order total (cumulative window sum; decimal
    accumulation so the prefix sums are order-exact)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


WINDOW_RUNNING_TOTAL_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
"""


def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): per-user microsecond gap between consecutive events."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    )


WINDOW_LAG_DELTA_SQL = """
SELECT user_id, event_id,
  epoch_us(ts) - epoch_us(lag(ts) OVER (
    PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
FROM events
"""


def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame + ranking variants: dense_rank, ntile, first/last
    value over explicit row frames, and a centered moving average."""
    o = load_table(spark, sf_dir, "orders")
    order_w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = order_w.rowsBetween(-1, 1)
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(order_w).cast("long").alias("drank"),
        F.ntile(4).over(order_w).cast("long").alias("quartile"),
        F.first("o_orderkey").over(order_w).alias("first_order"),
        (
            F.sum(price_dec).over(frame).cast("double")
            / F.count(F.lit(1)).over(frame)
        ).alias("moving_avg3"),
    )


WINDOW_FRAMES_SQL = """
SELECT o_custkey, o_orderkey,
  dense_rank() OVER w AS drank,
  ntile(4) OVER w AS quartile,
  first_value(o_orderkey) OVER w AS first_order,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER frame AS DOUBLE)
    / count(*) OVER frame AS moving_avg3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  frame AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
"""


def window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user rolling 1-hour event-value sum.
    Unlike a ROWS frame, the window is defined by event-time distance —
    the shape behind rate limiting / rolling quotas.  Numeric range on
    epoch micros keeps Spark and DuckDB frame semantics identical."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_1h_value"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_events"),
    )


WINDOW_RANGE_TIME_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rolling_1h_value,
  count(*) OVER w AS rolling_1h_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def window_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap-fill (last-observation-carried-forward): every event
    carries the user's most recent purchase value — the canonical
    time-series forward-fill (sensor readings, price marks, feature
    snapshots for training data).  `last(..., ignorenulls=True)` over a
    ROWS running frame; (ts, event_id) ordering makes the pick unique,
    and the filled value is copied (never computed), so cross-engine
    equality is exact.  One shuffle on user_id; per-partition state is
    a single carried value — scales to any history length."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us, F.col("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        "event_type",
        F.last(purchase_val, ignorenulls=True).over(w).alias(
            "last_purchase_value"
        ),
    )


WINDOW_LOCF_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS last_purchase_value
FROM events
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + conditional cumsum), the batch
    equivalent of a session window: session breaks when the gap from the
    previous event of the same user exceeds 30 minutes."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    ws = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sessions = e.select(
        "user_id", "event_id", "ts", F.sum(is_new).over(ws).alias("session_seq")
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros(F.col("ts"))).alias("start_us"),
        F.max(F.unix_micros(F.col("ts"))).alias("end_us"),
    )


EVENTS_SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
    epoch_us(ts) - epoch_us(lag(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
),
tagged AS (
  SELECT user_id, event_id, ts,
    CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM gaps
),
sess AS (
  SELECT user_id, event_id, ts,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM tagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
FROM sess GROUP BY user_id, session_seq
"""


def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute event-time windows (batch shape of the
    streaming groupBy(window(...)) aggregation)."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.expr("unix_micros(ts) div 300000000")
    return e.groupBy(
        bucket.alias("window_id"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("value"), "decimal(18,2)").alias("sum_value"),
    )


EVENTS_WINDOW_AGG_SQL = """
SELECT epoch_us(ts) // 300000000 AS window_id, event_type, count(*) AS n,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: per (event_type, hour) OHLC bars over the
    event value stream — open/close via min_by/max_by on a unique
    monotone key (epoch micros scaled + event_id, DECIMAL so it never
    overflows at any corpus size), high/low as plain min/max, volume as
    an exact decimal sum.  Open/close are COPIED values and the key is
    collision-free, so every output is engine-exact.

    One hash aggregation with map-side combine — the canonical
    downsample-to-bars step that turns a raw event firehose into
    model-ready time-series features at any scale."""
    e = load_table(spark, sf_dir, "events")
    key = (
        F.expr("CAST(unix_micros(ts) AS DECIMAL(38,0)) * 1000000")
        + F.col("event_id").cast("decimal(38,0)")
    )
    hour = F.expr("unix_micros(date_trunc('hour', ts))")
    return (
        e.select(
            "event_type",
            hour.alias("hour_us"),
            "value",
            key.alias("k"),
        )
        .groupBy("event_type", "hour_us")
        .agg(
            F.min_by("value", F.col("k")).alias("open"),
            F.max_by("value", F.col("k")).alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("volume"),
        )
    )


EVENTS_OHLC_SQL = """
SELECT event_type,
  epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
  arg_min(value, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DECIMAL(38,0)) * 1000000
                 + CAST(event_id AS DECIMAL(38,0))) AS open,
  arg_max(value, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DECIMAL(38,0)) * 1000000
                 + CAST(event_id AS DECIMAL(38,0))) AS close,
  max(value) AS high,
  min(value) AS low,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
FROM events
GROUP BY 1, 2
"""


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (no native Spark operator): for every purchase event,
    the most recent STRICTLY PRIOR view event of the same user.

    Composition: union-tag both sides, one window pass ordered by
    (ts, view-before-purchase) carrying the running last view via
    last_value(ignoreNulls) — a single shuffle on user_id, no range
    cross join, the scalable pattern for time-series alignment.
    Ties (equal ts) order views before purchases so a same-instant view
    is visible to the purchase, and event_id breaks exact ties
    deterministically."""
    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts"),
        F.col("event_id"),
        F.lit(0).alias("kind"),  # views sort before co-timestamped purchases
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts"), F.col("event_id"), F.lit(1).alias("kind")
    )
    tagged = views.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_view_id = F.last(
        F.when(F.col("kind") == 0, F.col("event_id")), ignorenulls=True
    ).over(w)
    last_view_ts = F.last(
        F.when(F.col("kind") == 0, F.unix_micros(F.col("ts"))), ignorenulls=True
    ).over(w)
    return (
        tagged.withColumn("view_event_id", last_view_id)
        .withColumn("view_ts_us", last_view_ts)
        .filter(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.unix_micros(F.col("ts")).alias("purchase_ts_us"),
            "view_event_id",
            "view_ts_us",
        )
    )


ASOF_JOIN_EVENTS_SQL = """
WITH tagged AS (
  SELECT user_id, ts, event_id, 0 AS kind FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS kind FROM events WHERE event_type = 'purchase'
),
marked AS (
  SELECT *,
    last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, kind, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_event_id,
    last_value(CASE WHEN kind = 0 THEN epoch_us(ts) END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, kind, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS view_ts_us
  FROM tagged
)
SELECT event_id AS purchase_event_id, user_id, epoch_us(ts) AS purchase_ts_us,
       view_event_id, view_ts_us
FROM marked WHERE kind = 1
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: per user, the first view -> first
    subsequent cart -> first subsequent purchase, then per-stage user
    counts.  One window pass per stage boundary, no self-joins — the
    standard product-analytics funnel at event-log scale."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
    )
    carts = e.filter(F.col("event_type") == "cart").select(
        "user_id", F.col("ts").alias("cart_ts")
    )
    first_cart = (
        per_user.join(carts, "user_id", "left")
        .filter(F.col("cart_ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("cart_ts").alias("first_cart"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    first_purchase = (
        first_cart.join(purchases, "user_id", "left")
        .filter(F.col("p_ts") >= F.col("first_cart"))
        .groupBy("user_id", "first_view", "first_cart")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    base = (
        per_user.filter(F.col("first_view").isNotNull())
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("1_view").alias("stage"), "n")
    )
    stage2 = first_cart.agg(F.countDistinct("user_id").alias("n")).select(
        F.lit("2_view_cart").alias("stage"), "n"
    )
    stage3 = first_purchase.agg(
        F.countDistinct("user_id").alias("n")
    ).select(F.lit("3_view_cart_purchase").alias("stage"), "n")
    return base.unionByName(stage2).unionByName(stage3)


FUNNEL_CONVERSION_SQL = """
WITH per_user AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
  FROM events GROUP BY user_id
),
first_cart AS (
  SELECT e.user_id, p.first_view, min(e.ts) AS first_cart
  FROM events e JOIN per_user p ON e.user_id = p.user_id
  WHERE e.event_type = 'cart' AND e.ts >= p.first_view
  GROUP BY e.user_id, p.first_view
),
first_purchase AS (
  SELECT e.user_id, min(e.ts) AS first_purchase
  FROM events e JOIN first_cart c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.first_cart
  GROUP BY e.user_id
)
SELECT '1_view' AS stage, count(*) AS n FROM per_user
WHERE first_view IS NOT NULL
UNION ALL
SELECT '2_view_cart', count(DISTINCT user_id) FROM first_cart
UNION ALL
SELECT '3_view_cart_purchase', count(DISTINCT user_id) FROM first_purchase
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort-retention triangle over events: users cohorted by
    first-activity day, activity counted per (cohort, days-since) --
    daily grain because the synthetic event log spans one month.

    Plan: one shuffle keys the first-event aggregate on user_id; the
    activity join reuses that same user_id partitioning (no extra
    exchange); per-(cohort, age) distinct-user counts are a bounded
    two-level aggregate; cohort sizes are a tiny per-day frame that
    BROADCASTS back for the ratio.  The ratio divides explicit
    doubles.  At 100 TB the only wide ops are user_id hash
    shuffles -- no window over the full event log, no driver state.
    Day arithmetic is a calendar-date diff, exact in both engines.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = e.join(first, "user_id")
    base = j.select(
        "user_id",
        F.date_format("first_ts", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff(F.col("ts").cast("date"), F.col("first_ts").cast("date")).alias(
            "age_days"
        ),
    )
    active = base.groupBy("cohort_day", "age_days").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = first.groupBy(
        F.date_format("first_ts", "yyyy-MM-dd").alias("cohort_day")
    ).agg(F.count(F.lit(1)).alias("cohort_size"))
    return active.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "age_days",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
            "retention"
        ),
    )


COHORT_RETENTION_SQL = """
WITH first AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
base AS (
  SELECT e.user_id,
         strftime(f.first_ts, '%Y-%m-%d') AS cohort_day,
         date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE))
           AS age_days
  FROM events e JOIN first f ON e.user_id = f.user_id
),
active AS (
  SELECT cohort_day, age_days, count(DISTINCT user_id) AS n_active
  FROM base GROUP BY cohort_day, age_days
),
sizes AS (
  SELECT strftime(first_ts, '%Y-%m-%d') AS cohort_day, count(*) AS cohort_size
  FROM first GROUP BY 1
)
SELECT a.cohort_day, age_days, n_active, cohort_size,
       CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
FROM active a JOIN sizes s ON a.cohort_day = s.cohort_day
"""


PATH_MAX_STEPS = 8
PATH_TOPK = 20


def sessions_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATH_TOPK} event-type PATHS across sessions: each session
    (same 30-minute-gap rule as events_sessionize) is collapsed to the
    ordered '->'-joined sequence of its first {PATH_MAX_STEPS} event
    types, then paths are ranked by how many sessions follow them.

    Scale shape: the per-session path is ONE collect_list aggregation
    (map-side combinable into per-partition partial lists only after
    the session shuffle — the same single shuffle the sessionize agg
    already pays), ordered deterministically by sort_array over
    (ts, event_id, type) structs rather than relying on collect_list
    arrival order, which is partition-nondeterministic.  The final
    rank is a count-distinct-free groupBy on the path string (orders
    of magnitude fewer rows than events) + a global top-k
    (TakeOrderedAndProject, no full sort).  No UDFs; the
    sequence slicing is transform/slice/array_join JVM HOFs.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    ws = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(is_new).over(ws).alias("session_seq"),
    )
    ordered = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    path = F.array_join(
        F.slice(
            F.transform(ordered, lambda x: x["event_type"]), 1, PATH_MAX_STEPS
        ),
        "->",
    )
    paths = tagged.groupBy("user_id", "session_seq").agg(path.alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOPK)
    )


SESSIONS_PATH_TOPK_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts, event_type,
    epoch_us(ts) - epoch_us(lag(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
),
tagged AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM gaps
),
sess AS (
  SELECT user_id, event_id, ts, event_type,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM tagged
),
ranked AS (
  SELECT user_id, session_seq, event_type,
    row_number() OVER (PARTITION BY user_id, session_seq
                       ORDER BY ts, event_id) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, session_seq,
    string_agg(event_type, '->' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {PATH_MAX_STEPS}
  GROUP BY user_id, session_seq
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC LIMIT {PATH_TOPK}
"""


QUERIES = {
    "window_topk_per_group": (window_topk_per_group, WINDOW_TOPK_PER_GROUP_SQL),
    "window_running_total": (window_running_total, WINDOW_RUNNING_TOTAL_SQL),
    "window_lag_delta": (window_lag_delta, WINDOW_LAG_DELTA_SQL),
    "window_frames": (window_frames, WINDOW_FRAMES_SQL),
    "window_range_time": (window_range_time, WINDOW_RANGE_TIME_SQL),
    "window_locf_fill": (window_locf_fill, WINDOW_LOCF_SQL),
    "events_sessionize": (events_sessionize, EVENTS_SESSIONIZE_SQL),
    "events_window_agg": (events_window_agg, EVENTS_WINDOW_AGG_SQL),
    "events_ohlc_bars": (events_ohlc_bars, EVENTS_OHLC_SQL),
    "asof_join_events": (asof_join_events, ASOF_JOIN_EVENTS_SQL),
    "funnel_conversion": (funnel_conversion, FUNNEL_CONVERSION_SQL),
    "cohort_retention": (cohort_retention, COHORT_RETENTION_SQL),
    "sessions_path_topk": (sessions_path_topk, SESSIONS_PATH_TOPK_SQL),
}
