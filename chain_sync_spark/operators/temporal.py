"""Event-time windows + calendar arithmetic (SURVEY.md §2.7 ⊕, §2.6 ⊕).

Tumbling / sliding / session windows over the `events` stream table —
the batch expression of Structured Streaming's window semantics (the
same `window()` / `session_window()` functions drive the streaming
path in chain_sync_spark.streaming). DuckDB oracles reconstruct each
window assignment explicitly (time_bucket for fixed windows,
gaps-and-islands for sessions), which also documents the exact
semantics we guarantee:

  * fixed windows are epoch-aligned, [start, end)
  * a (10 min, 5 min) sliding window assigns each event to exactly 2
    windows: the 5-min bucket and its predecessor
  * a session extends while the gap to the previous event is < the
    gap duration; session end = last event + gap

Scale: window aggregation is a single hash aggregate on (window,
keys) — map-side partials, no skew (time buckets distribute), and at
100 TB the events scan prunes on any date-range predicate first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chain_sync_spark.functions import sketches as sk
from chain_sync_spark.tables import table


def _dec(c) -> F.Column:
    return c.cast("decimal(18,2)")


def window_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event type."""
    ev = table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes")
    return (
        ev.groupBy(w.alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec(F.col("value"))).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS win_start,
       time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '10 minutes' AS win_end,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2, 3
"""


def window_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in
    exactly two windows)."""
    ev = table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(w.alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec(F.col("value"))).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "n_events",
            "sum_value",
        )
    )


_SLIDING_ORACLE = """
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
assigned AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, value FROM e
  UNION ALL
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS win_start, value FROM e
)
SELECT win_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM assigned GROUP BY 1
"""


def window_session_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user: a session extends while
    consecutive events are < 30 minutes apart; end = last + gap."""
    ev = table(spark, sf_dir, "events")
    w = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(w.alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


_SESSION_ORACLE = """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, sid
"""


def sessionize_event_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization — the companion to
    window_session_events that keeps EVERY event row, tagging it with
    a per-user session index and its position inside the session
    (what clickstream feature pipelines consume). Classic two-window
    construction: lag-gap flag → running sum = session id →
    row_number within session. All three windows share one shuffle
    on user_id."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev)
    new_session = F.when(
        prev.isNull() | (gap_us >= 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    flagged = ev.withColumn("new_session", new_session)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_id", F.sum("new_session").over(wcum))
    wrn = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    return sess.select(
        "event_id",
        "user_id",
        "ts",
        "session_id",
        F.row_number().over(wrn).alias("evt_in_session"),
    )


_SESSIONIZE_ROWS_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
),
flagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT event_id, user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT event_id, user_id, ts, CAST(session_id AS BIGINT) AS session_id,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY user_id, session_id ORDER BY ts, event_id) AS INT)
         AS evt_in_session
FROM numbered
"""


def date_math_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic surface (§2.6 ⊕): date_add / datediff /
    trunc / last_day over order dates."""
    orders = table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_ref"),
        F.trunc(d, "month").alias("month_start"),
        F.last_day(d).alias("month_end"),
    )


_DATE_MATH_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       CAST(DATE '1998-12-31' - CAST(o_orderdate AS DATE) AS INT) AS days_to_ref,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end
FROM orders
"""


def funnel_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized funnel: within each 30-minute user session, did a
    purchase follow the first view? One session_window aggregation +
    one global conditional rollup — the canonical product-analytics
    query, no self-joins."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    sessions = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("win"), F.col("user_id")
    ).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    converted = (
        F.col("first_view").isNotNull()
        & F.col("last_purchase").isNotNull()
        & (F.col("last_purchase") > F.col("first_view"))
    )
    return sessions.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("first_view").isNotNull().cast("int")).alias("n_with_view"),
        F.sum(F.col("last_purchase").isNotNull().cast("int")).alias("n_with_purchase"),
        F.sum(converted.cast("int")).alias("n_converted"),
    )


_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events WHERE event_type IN ('view', 'purchase')
),
flagged AS (
  SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
sessions AS (
  SELECT user_id, sid,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
  FROM numbered GROUP BY 1, 2
)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_view,
       CAST(SUM(CASE WHEN last_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_purchase,
       CAST(SUM(CASE WHEN first_view IS NOT NULL AND last_purchase IS NOT NULL
                      AND last_purchase > first_view THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM sessions
"""


def resample_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: a dense (user × day)
    grid over the events month, zero-filled where a user was idle —
    the sequence→explode densification pattern (training curricula,
    activity matrices). The grid is generated engine-side (no driver
    loop); the left join fills from the sparse aggregate."""
    ev = table(spark, sf_dir, "events")
    days = F.explode(
        F.sequence(
            F.lit("2024-01-01").cast("date"), F.lit("2024-01-30").cast("date")
        )
    ).alias("day")
    users = ev.select("user_id").distinct()
    grid = users.select("user_id", days)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return grid.join(daily, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_events")
    )


_RESAMPLE_ORACLE = """
WITH days AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS day
),
users AS (SELECT DISTINCT user_id FROM events),
daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT u.user_id, d.day, COALESCE(daily.n, 0) AS n_events
FROM users u CROSS JOIN days d
LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day
"""


def percentile_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per order priority —
    the order-statistics surface. Exact percentile sorts within each
    group; for 100 TB-scale sketching use approx_percentile (same
    shape, bounded memory)."""
    orders = table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile(price, F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(price, F.lit(0.9)), 4).alias("p90"),
        F.round(F.min(price), 4).alias("lo"),
        F.round(F.max(price), 4).alias("hi"),
    )


_PERCENTILE_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(MIN(o_totalprice), 4) AS lo,
       round(MAX(o_totalprice), 4) AS hi
FROM orders GROUP BY 1
"""


def profile_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day dataset drift profile — the monitoring query an
    ingestion pipeline runs before a batch enters training data: per
    calendar day, row volume, distinct-user and distinct-type
    cardinality, and exact value totals (double → DECIMAL before
    summation; raw double sums are summation-order-dependent and
    never hash-match across engines), with lag deltas and a volume
    ratio so a day whose shape diverges from its predecessor stands
    out (NULLs on the first day).

    Scale: one hash aggregate on day (bounded cardinality, multi-
    distinct via a single Expand pass), then a lag window over the
    day-grain relation — rows = days, negligible. The events scan is
    the only full pass."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("event_type").alias("n_types"),
            F.sum(_dec(F.col("value"))).cast("double").alias("sum_value"),
        )
    )
    # global window is bounded: input is one row per calendar DAY
    # (the daily aggregate), not the events table
    w = Window.orderBy("day")
    prev = F.lag("n_events").over(w)
    return daily.select(
        "day",
        "n_events",
        "n_users",
        "n_types",
        "sum_value",
        (F.col("n_events") - prev).alias("d_events"),
        # tie-safe rounding: a ratio of two integers can land on an
        # exact half-tie where round()'s tie rule diverges across engines
        sk.floor_round(
            F.col("n_events").cast("double") / prev.cast("double"), 6
        ).alias("ratio_events"),
    )


_DRIFT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COUNT(*) AS n_events,
         COUNT(DISTINCT user_id) AS n_users,
         COUNT(DISTINCT event_type) AS n_types,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1
)
SELECT day, n_events, n_users, n_types, sum_value,
       n_events - LAG(n_events) OVER (ORDER BY day) AS d_events,
       {sk.floor_round_sql(
           'CAST(n_events AS DOUBLE)'
           ' / CAST(LAG(n_events) OVER (ORDER BY day) AS DOUBLE)', 6)}
         AS ratio_events
FROM daily
"""


def retention_cohort_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — the classic product-analytics matrix
    over the events stream: every user is assigned to the cohort of
    their first active ISO week, and each (cohort, week-offset) cell
    reports how many cohort members were active that many weeks
    later, as a count and as a tie-safe-rounded share of the cohort.
    Week 0 retention is 1.0 by construction (an invariant a pytest
    pins).

    Scale: ONE events scan (plan-audited) reducing immediately to
    distinct (user, week) pairs [shuffle 1, map-side combinable]; the
    cohort week rides along as a min-over-user window (no self-join);
    the cell aggregate is keyed on (cohort_week, offset) — bounded by
    weeks², tiny — and the cohort size is the offset-0 cell of the
    same relation, attached by a window rather than a join so the
    cells lineage (and the events scan under it) is never computed
    twice. Every user is active in their own cohort week, so the
    offset-0 cell always exists."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    )
    user_weeks = ev.distinct().withColumn(
        "cohort_week", F.min("wk").over(Window.partitionBy("user_id"))
    )
    cells = user_weeks.groupBy(
        "cohort_week",
        (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("active_users"))
    size_w = Window.partitionBy("cohort_week")
    cohort_size = F.max(
        F.when(F.col("week_offset") == 0, F.col("active_users"))
    ).over(size_w)
    return cells.withColumn("cohort_size", cohort_size).select(
        "cohort_week",
        "week_offset",
        "cohort_size",
        "active_users",
        sk.floor_round(
            F.col("active_users").cast("double")
            / F.col("cohort_size").cast("double"),
            6,
        ).alias("retention"),
    )


_RETENTION_ORACLE = f"""
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events
),
cohort AS (
  SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_week
),
cells AS (
  SELECT c.cohort_week,
         CAST(datediff('day', c.cohort_week, u.wk) // 7 AS INT) AS week_offset,
         COUNT(*) AS active_users
  FROM uw u JOIN cohort c USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, cohort_size, active_users,
       {sk.floor_round_sql(
           'CAST(active_users AS DOUBLE) / CAST(cohort_size AS DOUBLE)', 6)}
         AS retention
FROM cells JOIN sizes USING (cohort_week)
"""


# ---------------------------------------------------------------------------
# SCD2 dimension history
# ---------------------------------------------------------------------------

def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history built from the events
    stream: each user's event_type sequence (total order: ts, then
    event_id — ties are pinned) collapses into runs of consecutive
    equal values; every run becomes one versioned dimension row with
    [valid_from, valid_to) validity, NULL valid_to + is_current=true
    on the open row.  The gaps-and-islands → effective-dating pattern
    every warehouse load needs (and the batch shape of a streamed
    MERGE-based SCD2 sink: the engine's upsert path, sync/merge.py,
    applies the same close-old/open-new row pair per key).

    Scale: two windows over the same (user_id → ts, event_id) sort
    order — Spark reuses one sort+shuffle for both lag and the running
    sum — then a hash aggregate on (user_id, version) and a final
    lead() over the *aggregated* (runs-sized, « events-sized)
    relation.  No self-joins; one wide shuffle total."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    runs = ev.withColumn(
        "chg", (~prev.eqNullSafe(F.col("event_type"))).cast("int")
    ).withColumn("version", F.sum("chg").over(w))
    hist = runs.groupBy("user_id", "version", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return (
        hist.withColumn("valid_to", F.lead("valid_from").over(w2))
        .select(
            "user_id",
            F.col("version").cast("int").alias("version"),
            "event_type",
            "valid_from",
            "valid_to",
            "n_events",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events
),
runs AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
  FROM ordered
),
hist AS (
  SELECT user_id, version, event_type,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM runs GROUP BY 1, 2, 3
)
SELECT user_id, CAST(version AS INT) AS version, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       CAST(n_events AS BIGINT) AS n_events,
       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         IS NULL) AS is_current
FROM hist
"""

def scd2_asof_lookup(
    history: DataFrame,
    facts: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """The consumption side of SCD2: join each fact row to the
    dimension version valid AT its timestamp — the point-in-time
    lookup every effective-dated warehouse query needs.  Condition:
    valid_from <= ts < valid_to (open row: valid_to IS NULL).

    Scale: an equi-join on the key with a range residual — Spark
    hash-partitions on the key and evaluates the interval predicate
    per key group, so cost is O(facts + matched versions); version
    chains are short (runs-per-key), never the events table.  Facts
    before the key's first version drop (inner join), matching the
    warehouse convention that a fact cannot precede its dimension."""
    h = history.alias("h")
    f = facts.alias("f")
    tcol = F.col(f"f.{ts}")
    cond = (
        (F.col(f"h.{key}") == F.col(f"f.{key}"))
        & (F.col("h.valid_from") <= tcol)
        & (F.col("h.valid_to").isNull() | (tcol < F.col("h.valid_to")))
    )
    return f.join(h, cond).select(
        "f.*",
        F.col("h.version").alias("dim_version"),
        F.col("h.event_type").alias("dim_event_type"),
        F.col("h.valid_from").alias("dim_valid_from"),
        F.col("h.valid_to").alias("dim_valid_to"),
    )


def scd2_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of :func:`scd2_asof_lookup`: every 20th event,
    its timestamp shifted 30 minutes forward, looked up point-in-time
    against the SCD2 history built from the same events table.  The
    forward shift makes the lookup discriminating — a fact near the
    end of a run lands in the NEXT version, exercising the interval
    boundary rather than trivially rejoining the fact's own run.
    Every shifted fact matches exactly one version (the validity
    intervals partition [first valid_from, inf) per user and the
    shift is forward), so output rows == sampled facts.

    Integer/timestamp-free output contract: fact_id/user_id BIGINT,
    dim_version INT, dim_event_type STRING."""
    hist = scd2_event_type_history(spark, sf_dir)
    facts = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select(
            F.col("event_id").alias("fact_id"),
            "user_id",
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ts"),
        )
    )
    return scd2_asof_lookup(hist, facts).select(
        "fact_id", "user_id", "dim_version", "dim_event_type"
    )


_ASOF_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
              IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events
),
runs AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
  FROM ordered
),
hist AS (
  SELECT user_id, version, event_type, MIN(ts) AS valid_from
  FROM runs GROUP BY 1, 2, 3
),
dim AS (
  SELECT user_id, CAST(version AS INT) AS version, event_type, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to
  FROM hist
),
facts AS (
  SELECT event_id AS fact_id, user_id, ts + INTERVAL 30 MINUTE AS fts
  FROM events WHERE event_id % 20 = 0
)
SELECT f.fact_id, f.user_id, d.version AS dim_version,
       d.event_type AS dim_event_type
FROM facts f JOIN dim d
  ON d.user_id = f.user_id
 AND d.valid_from <= f.fts
 AND (d.valid_to IS NULL OR f.fts < d.valid_to)
"""


QUERIES = {
    "window_tumbling_events": window_tumbling_events,
    "window_sliding_events": window_sliding_events,
    "window_session_events": window_session_events,
    "sessionize_event_rows": sessionize_event_rows,
    "date_math_orders": date_math_orders,
    "funnel_session_conversion": funnel_session_conversion,
    "resample_daily_gapfill": resample_daily_gapfill,
    "percentile_order_prices": percentile_order_prices,
    "profile_drift_events": profile_drift_events,
    "retention_cohort_weeks": retention_cohort_weeks,
    "scd2_event_type_history": scd2_event_type_history,
    # the SCD2 consumption side
    "scd2_asof_lookup": scd2_asof_events,
}

ORACLE = {
    "window_tumbling_events": _TUMBLING_ORACLE,
    "window_sliding_events": _SLIDING_ORACLE,
    "window_session_events": _SESSION_ORACLE,
    "sessionize_event_rows": _SESSIONIZE_ROWS_ORACLE,
    "date_math_orders": _DATE_MATH_ORACLE,
    "funnel_session_conversion": _FUNNEL_ORACLE,
    "resample_daily_gapfill": _RESAMPLE_ORACLE,
    "percentile_order_prices": _PERCENTILE_ORACLE,
    "profile_drift_events": _DRIFT_ORACLE,
    "retention_cohort_weeks": _RETENTION_ORACLE,
    "scd2_event_type_history": _SCD2_ORACLE,
    "scd2_asof_lookup": _ASOF_ORACLE,
}
