"""Event-time windowing queries over the `events` table (SURVEY §2.8).

The reference only *simulates* incremental behavior (stage state
machine, append-only log -- pages/index.js:38-78); the driver's
`events` table is the designated stream surrogate.  These are the
batch-checkable forms; `streaming/jobs.py` exposes the same operators
as Structured Streaming jobs (watermarks + windowed state), sharing
the window semantics below.

Scale notes: all groupings key on (window, type) or (user, session) --
partial aggregation keeps the shuffle proportional to the number of
windows/users, not events.  At 100 TB the same plans hold; skewed hot
users are handled by AQE skew-join/salting (session query shuffles by
user_id only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import local_frame, read_events
from .registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_events(spark, sf_dir)


# ---------------------------------------------------------------------------
# Tumbling window aggregation
# ---------------------------------------------------------------------------
@query(
    "events_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts)      AS window_start,
           event_type,
           count(*)                    AS n_events,
           round(sum(value), 2)        AS total_value,
           count(DISTINCT user_id)     AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling windows per event type.  Expressed with the
    native `window()` so the same code runs under Structured Streaming
    with a watermark (see streaming/jobs.py)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
    )


# ---------------------------------------------------------------------------
# Sliding window aggregation (1 h window, 30 min slide)
# ---------------------------------------------------------------------------
@query(
    "events_sliding",
    oracle="""
    WITH g AS (
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS w1, *
      FROM events
    ), assigned AS (
      SELECT w1 AS window_start, event_type, value FROM g
      UNION ALL
      SELECT w1 - INTERVAL 30 MINUTE AS window_start, event_type, value FROM g
    )
    SELECT window_start, event_type,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM assigned GROUP BY 1, 2
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in
    exactly two windows (epoch-aligned starts, Spark semantics).  The
    oracle materializes the two shifted assignments explicitly."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Session windows (gap-based), native session_window
# ---------------------------------------------------------------------------
@query(
    "events_session",
    oracle="""
    WITH t AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t
    )
    SELECT user_id,
           min(ts)              AS session_start,
           max(ts)              AS last_event,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, session_id
    """,
)
def events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (1 h inactivity closes a session) via
    Spark's native `session_window`; the oracle uses the classic
    lag+cumsum gaps-and-islands form.  A new session starts when the
    gap >= the timeout (Spark sessions are [start, last+gap))."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.max("ts").alias("last_event"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_event",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Keyed dedup: keep the first event per (user, type) -- deterministic
# batch analog of dropDuplicatesWithinWatermark
# ---------------------------------------------------------------------------
@query(
    "events_dedup_first",
    oracle="""
    SELECT user_id, event_type,
           min(event_id)             AS first_event_id,
           min_by(ts, event_id)      AS first_ts,
           min_by(value, event_id)   AS first_value,
           count(*) - 1              AS n_dups
    FROM events GROUP BY user_id, event_type
    """,
)
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-dedup semantics in batch: first event per key in
    ingest order.  `dropDuplicates` is order-nondeterministic in a
    distributed run, so the engine uses min_by over the ingest key --
    same result on any partitioning."""
    e = _events(spark, sf_dir)
    return e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.min_by("ts", "event_id").alias("first_ts"),
        F.min_by("value", "event_id").alias("first_value"),
        (F.count("*") - 1).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# JSON property extraction (events.props is a JSON string)
# ---------------------------------------------------------------------------
@query(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           count(*)                                              AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: JSON path extraction from the props
    column, then aggregate.  get_json_object stays JVM-side."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Time-ordered per-user activity deltas (lag over event time)
# ---------------------------------------------------------------------------
@query(
    "events_gap_stats",
    oracle="""
    WITH d AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                ORDER BY ts, event_id))) / 1000000.0 AS gap_s
      FROM events
    )
    SELECT user_id,
           count(gap_s)                 AS n_gaps,
           round(avg(gap_s), 2)         AS avg_gap_s,
           round(max(gap_s), 2)         AS max_gap_s
    FROM d GROUP BY user_id
    """,
)
def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap statistics per user (lag over event time +
    keyed agg) -- the building block behind sessionization and
    activity scoring."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts"))
    gap = (ep - F.lag(ep).over(w)) / F.lit(1000000.0)
    return (
        e.select("user_id", gap.alias("gap_s"))
        .groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.avg("gap_s"), 2).alias("avg_gap_s"),
            F.round(F.max("gap_s"), 2).alias("max_gap_s"),
        )
    )


# ---------------------------------------------------------------------------
# Hierarchical rollup (hypertable continuous-aggregate pattern)
# ---------------------------------------------------------------------------
@query(
    "events_rollup_2level",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           event_type,
           count(*)                  AS n_events,
           round(sum(value), 2)      AS total_value,
           floor(round(sum(value), 2) / count(*) * 10000 + 0.5) / 10000
             AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_rollup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stats computed FROM hourly partials -- the hypertable /
    continuous-aggregate pattern: the hourly rollup is what a 100 TB
    deployment materializes incrementally (one pass over raw events,
    ever), and every coarser grain (day here, month, ...) re-aggregates
    the tiny partial table instead of rescanning raw data.  Only
    algebraic aggregates compose (count/sum re-sum; avg is derived
    sum/count at the final grain -- averaging hourly averages would be
    wrong); the oracle aggregates raw events directly, proving the
    two-level composition exact.

    The derived average divides the ROUNDED total (identical double
    in both engines) and rounds via explicit floor(x*1e4 + 0.5)/1e4:
    Spark's round() rounds the shortest decimal string while DuckDB
    rounds the binary double, and the two disagree on exact .xxxx5
    quotients (e.g. 307.03/8)."""
    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("pc"),
        F.sum("value").alias("pv"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", "hour").alias("day"), "event_type"
        )
        .agg(
            F.sum("pc").alias("n_events"),
            F.round(F.sum("pv"), 2).alias("total_value"),
            (
                F.floor(
                    F.round(F.sum("pv"), 2) / F.sum("pc") * 10000 + F.lit(0.5)
                )
                / 10000
            ).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention (first-seen cohort x activity week)
# ---------------------------------------------------------------------------
@query(
    "events_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(date_diff('week', f.cohort_week,
                          date_trunc('week', e.ts)) AS BIGINT) AS week_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen week,
    counted distinct in each subsequent week.  Two shuffles on
    user_id (first-seen agg, then the join) -- at scale both reuse
    the same hash partitioning, and the second distinct-count keys on
    the tiny (cohort, offset) pair."""
    e = _events(spark, sf_dir)
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        e.join(first_seen, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Funnel analysis (ordered step sequence per user)
# ---------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
           count(CASE WHEN t_view < t_click THEN 1 END)   AS n_view_click,
           count(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 END)
             AS n_full_funnel
    FROM per_user
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel: first occurrence of each step
    per user via conditional min (ONE keyed aggregation -- no
    self-joins, no window sort), then ordered-sequence counts.  SQL
    three-valued logic does the step gating: a NULL step time fails
    every < comparison, so missing steps drop out without explicit
    null checks.  Per-user state is 3 timestamps regardless of event
    volume -- the shape that survives 100 TB of events."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return per_user.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_view") < F.col("t_click"), 1)).alias(
            "n_view_click"
        ),
        F.count(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")),
                1,
            )
        ).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + forward fill (spine join / LOCF)
# ---------------------------------------------------------------------------
@query(
    "events_gap_fill",
    oracle="""
    WITH f AS (SELECT * FROM events WHERE value >= 300),
    daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             count(*) AS n, round(sum(value), 2) AS total
      FROM f GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(date_trunc('day', ts)) AS d0,
             max(date_trunc('day', ts)) AS d1
      FROM f
    ),
    days AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM bounds
    ),
    spine AS (
      SELECT day, event_type
      FROM days CROSS JOIN (SELECT DISTINCT event_type FROM f) t
    )
    SELECT s.day, s.event_type,
           coalesce(d.n, 0)       AS n_events,
           coalesce(d.total, 0.0) AS total_value,
           coalesce(last_value(d.total IGNORE NULLS)
                      OVER (PARTITION BY s.event_type ORDER BY s.day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0.0)          AS locf_value
    FROM spine s LEFT JOIN daily d
      ON d.event_type = s.event_type AND d.day = s.day
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular daily series from sparse events: a generated date spine
    (sequence + explode) cross-joined with the observed key set, left
    join of the real daily aggregates, zeros for missing days, and
    last-observation-carried-forward via last(ignorenulls) over a
    bounded window.  The spine is days x types (tiny at any data
    scale -- it grows with the calendar, not the event volume), so the
    cross join is broadcast; the only data-sized shuffle is the daily
    aggregation itself."""
    e = _events(spark, sf_dir).filter(F.col("value") >= 300)
    day = F.date_trunc("day", "ts")
    daily = e.groupBy(
        "event_type", day.alias("day")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    bounds = e.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    days = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    types = e.select("event_type").distinct()
    spine = days.crossJoin(F.broadcast(types))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("total"), F.lit(0.0)).alias("total_value"),
            F.coalesce(
                F.last("total", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("locf_value"),
        )
    )


# ---------------------------------------------------------------------------
# Event transition matrix (next-event sequence mining)
# ---------------------------------------------------------------------------
@query(
    "events_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, count(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-event transition counts (the Markov-matrix /
    clickstream-mining shape): one lead() over the per-user time
    order, then a count keyed on the tiny (from, to) pair space.
    Ordering tiebreaks on event_id so concurrent timestamps are
    deterministic.  One shuffle on user_id, one on the pair key."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n_transitions"))
    )


# ---------------------------------------------------------------------------
# Z-score anomaly detection per event type
# ---------------------------------------------------------------------------
@query(
    "events_value_anomaly",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           count(CASE WHEN abs((e.value - s.mu) / s.sigma) > 3 THEN 1 END)
             AS n_outliers,
           round(max(abs((e.value - s.mu) / s.sigma)), 4) AS max_abs_z
    FROM events e JOIN stats s ON s.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def events_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier accounting per event type: the per-type
    mean/stddev aggregate (tiny -- one row per type) broadcasts back
    onto the stream, so anomaly scoring is a narrow map over events
    plus one keyed count.  The same two-pass shape at 100 TB: stats
    pass, then score pass; no per-row subqueries."""
    e = _events(spark, sf_dir)
    stats = e.groupBy(F.col("event_type").alias("stype")).agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sigma"))
    return (
        e.join(F.broadcast(stats), e.event_type == F.col("stype"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(z > 3, 1)).alias("n_outliers"),
            F.round(F.max(z), 4).alias("max_abs_z"),
        )
    )


# ---------------------------------------------------------------------------
# Trailing time-RANGE window (7-day rolling sum per user)
# ---------------------------------------------------------------------------
@query(
    "events_trailing_7d",
    oracle="""
    SELECT event_id, user_id, ts,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ), 2) AS trailing_7d_value,
           count(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS trailing_7d_events
    FROM events
    """,
)
def events_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling aggregates per user -- a RANGE frame
    over event TIME, not row counts (rowsBetween would count
    neighbors; rangeBetween bounds by timestamp distance, which is
    what a rolling business metric means).  Spark range frames need a
    numeric ordering, so the frame runs over unix seconds with a
    -7*86400 lower bound; ties in ts are included together in the
    frame by RANGE semantics, identical in both engines."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("trailing_7d_value"),
        F.count("*").over(w).alias("trailing_7d_events"),
    )


# ---------------------------------------------------------------------------
# Last-touch attribution (conditional window over preceding frame)
# ---------------------------------------------------------------------------
@query(
    "events_attribution",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, ts, event_type,
             max(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_click_ts
      FROM events
    )
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
           last_click_ts,
           CAST(last_click_ts IS NOT NULL AS BOOLEAN) AS attributed
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase linked to the most recent
    PRECEDING click by the same user -- a conditional max over a
    [unbounded, 1 preceding] row frame, so the purchase row itself
    never self-attributes and no self-join or as-of join is needed.
    One shuffle on user_id; the frame scan is linear per user."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            last_click.alias("last_click_ts"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            F.col("last_click_ts").isNotNull().alias("attributed"),
        )
    )


# ---------------------------------------------------------------------------
# Online anomaly detection (running stats, streaming-compatible)
# ---------------------------------------------------------------------------
@query(
    "events_anomaly_online",
    oracle="""
    WITH t AS (
      SELECT event_type, event_id, value,
             avg(value)         OVER w AS mu,
             stddev_samp(value) OVER w AS sigma,
             count(*)           OVER w AS n_seen
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           count(*) AS n_events,
           count(CASE WHEN n_seen >= 30
                       AND abs((value - mu) / sigma) > 3 THEN 1 END)
             AS n_online_outliers
    FROM t GROUP BY event_type
    """,
)
def events_anomaly_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE z-score anomalies: each event scored against the
    running mean/stddev of the events BEFORE it (expanding frame to 1
    preceding, 30-event warmup) -- the causal form a stream can
    actually compute, unlike events_value_anomaly's two-pass global
    stats.  streaming/jobs.py::anomaly_stream maintains the same
    running moments as GroupState; this batch form is its
    backfill-parity twin."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    z = F.abs((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w))
    scored = e.select(
        "event_type",
        F.count("*").over(w).alias("n_seen"),
        z.alias("z"),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(F.when((F.col("n_seen") >= 30) & (F.col("z") > 3), 1)).alias(
            "n_online_outliers"
        ),
    )


# ---------------------------------------------------------------------------
# Sessionized funnel (session windows x ordered steps)
# ---------------------------------------------------------------------------
@query(
    "events_session_funnel",
    oracle="""
    WITH t AS (
      SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t
    ), per_session AS (
      SELECT user_id, session_id,
             min(CASE WHEN event_type = 'view'     THEN ts END) AS tv,
             min(CASE WHEN event_type = 'click'    THEN ts END) AS tc,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM s GROUP BY user_id, session_id
    )
    SELECT CASE WHEN tv IS NULL THEN 0
                WHEN tc IS NULL OR NOT tv < tc THEN 1
                WHEN tp IS NULL OR NOT tc < tp THEN 2
                ELSE 3 END AS stage,
           count(*) AS n_sessions
    FROM per_session GROUP BY 1
    """,
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel evaluated WITHIN sessions: gap-based session windows
    (1 h) composed with the conditional-min ordered-step funnel --
    each session independently counts how far it got.  One
    session_window aggregation produces the three step times; the
    stage CASE and the final count run over one row per session."""
    e = _events(spark, sf_dir)
    per_session = e.groupBy(
        F.session_window("ts", "1 hour").alias("w"), "user_id"
    ).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("tc"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    stage = (
        F.when(F.col("tv").isNull(), 0)
        .when(F.col("tc").isNull() | ~(F.col("tv") < F.col("tc")), 1)
        .when(F.col("tp").isNull() | ~(F.col("tc") < F.col("tp")), 2)
        .otherwise(3)
    )
    return per_session.select(stage.alias("stage")).groupBy("stage").agg(
        F.count("*").alias("n_sessions")
    )


# ---------------------------------------------------------------------------
# Interval self-join (view -> click pairs within a horizon)
# ---------------------------------------------------------------------------
@query(
    "events_view_click_pairs",
    oracle="""
    SELECT v.user_id,
           v.event_id                              AS view_id,
           c.event_id                              AS click_id,
           epoch_us(c.ts) - epoch_us(v.ts)         AS delay_us
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def events_view_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: every click within 30 minutes after a view
    by the same user (the impression-attribution primitive).  The join
    is an EQUI-join on user_id with the time range as a residual
    predicate, so it shuffles each side once on the user key -- never
    a theta join -- and per-user match work is bounded by the horizon.
    This is the batch twin of streaming/jobs.view_click_join_stream
    (same predicate as a watermarked stream-stream join), parity-
    tested in tests/test_streaming.py."""
    e = _events(spark, sf_dir)
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return (
        v.join(
            c,
            (v.user_id == c.c_user_id)
            & (c.click_ts >= v.view_ts)
            & (c.click_ts <= v.view_ts + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "user_id",
            "view_id",
            "click_id",
            (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias(
                "delay_us"
            ),
        )
    )


# ---------------------------------------------------------------------------
# JSON round-trip + nested flatten (semi-structured plumbing)
# ---------------------------------------------------------------------------
@query(
    "events_json_flatten",
    oracle="""
    SELECT event_type,
           2 * count(*)                                        AS n_flat_rows,
           round(sum(3 * value), 2)                            AS sum_vals,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured round trip: serialize each event to a nested
    JSON document (struct + array + sub-struct via to_json), parse it
    back with an explicit schema (from_json -- never schema inference
    in the engine), explode the nested array, and aggregate the
    flattened rows.  This is the landing-zone pattern for JSON topics
    at scale: schema-on-read with a declared schema keeps the parse
    inside codegen and lets pruning drop unused branches; the oracle
    states the same result straight from the source columns, so any
    mangling in serialize/parse/flatten would hash-mismatch."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    doc = F.to_json(
        F.struct(
            F.col("event_type"),
            F.array(F.col("value"), F.col("value") * 2).alias("vals"),
            F.struct(k.alias("k")).alias("meta"),
        )
    )
    schema = "event_type string, vals array<double>, meta struct<k: bigint>"
    parsed = e.select(F.from_json(doc, schema).alias("d"))
    flat = parsed.select(
        F.col("d.event_type").alias("event_type"),
        F.col("d.meta.k").alias("k"),
        F.explode("d.vals").alias("val"),
    )
    return flat.groupBy("event_type").agg(
        F.count("*").alias("n_flat_rows"),
        F.round(F.sum("val"), 2).alias("sum_vals"),
        F.max("k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Session path mining (top user journeys)
# ---------------------------------------------------------------------------
_PATH_TOP = 15


@query(
    "session_paths",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM t
    ), p AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
             count(*) AS n_events
      FROM s GROUP BY user_id, sid
    )
    SELECT path,
           count(*) AS n_sessions,
           round(avg(n_events), 4) AS avg_len
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {_PATH_TOP}
    """,
)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sessionize (1 h gap, the events_session
    convention), concatenate each session's event types in time order
    into a path string ('view>click>purchase'), and rank paths by how
    many sessions follow them -- the product-analytics query behind
    every funnel-discovery / user-flow dashboard.

    Scale: sessionization windows are PARTITION BY user_id; the path
    builds JVM-side from collect_list of (ts, event_id, type) structs
    + array_sort + transform + array_join (higher-order functions, no
    UDF) -- per-session arrays are bounded by session length, the
    same bound any sessionized aggregate carries.  Path frequencies
    then partial-aggregate (paths are low-cardinality relative to
    sessions) and the top-{top} is TakeOrdered with a full
    deterministic tie-break."""
    e = read_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    s = e.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us >= 3_600_000_000), 1).otherwise(0),
    ).withColumn("sid", F.sum("new_session").over(run_w))
    p = s.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x.event_type,
            ),
            ">",
        ).alias("path"),
        F.count("*").alias("n_events"),
    )
    return (
        p.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("n_events"), 4).alias("avg_len"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PATH_TOP)
    )


session_paths.__doc__ = session_paths.__doc__.format(top=_PATH_TOP)


# ---------------------------------------------------------------------------
# Funnel time-to-convert stats
# ---------------------------------------------------------------------------


@query(
    "funnel_conversion_time",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END)     AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END)    AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY 1
    ), d AS (
      SELECT 'view_to_click' AS step,
             epoch_us(t_click) - epoch_us(t_view) AS delay_us
      FROM per_user WHERE t_view < t_click
      UNION ALL
      SELECT 'click_to_purchase' AS step,
             epoch_us(t_purchase) - epoch_us(t_click) AS delay_us
      FROM per_user WHERE t_view < t_click AND t_click < t_purchase
    )
    SELECT step,
           count(*) AS n_users,
           round(CAST(sum(delay_us) AS BIGINT)
                 / CAST(count(*) AS DOUBLE) / 1000000.0, 4) AS avg_s,
           CAST(min(delay_us) AS BIGINT) AS min_us,
           CAST(max(delay_us) AS BIGINT) AS max_us
    FROM d GROUP BY 1
    """,
)
def funnel_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long conversion takes, not just whether it happens: for
    users who progress view -> click (-> purchase) in funnel order,
    the delay between their FIRST occurrences of consecutive steps --
    count, mean seconds, min/max.  The latency companion to
    events_funnel's conversion counts.

    Scale: the identical one-keyed-aggregation funnel core (three
    conditional mins per user -- no self-joins, no window sort, state
    is 3 timestamps per user at any volume), then the two step delays
    stack via a single explode (not a union, which would re-derive
    the per-user aggregate twice) and partial-aggregate on the
    2-value step key."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    d = (
        per_user.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("view_to_click").alias("step"),
                        F.when(
                            F.col("t_view") < F.col("t_click"),
                            F.unix_micros("t_click")
                            - F.unix_micros("t_view"),
                        ).alias("delay_us"),
                    ),
                    F.struct(
                        F.lit("click_to_purchase").alias("step"),
                        F.when(
                            (F.col("t_view") < F.col("t_click"))
                            & (F.col("t_click") < F.col("t_purchase")),
                            F.unix_micros("t_purchase")
                            - F.unix_micros("t_click"),
                        ).alias("delay_us"),
                    ),
                )
            ).alias("x")
        )
        .select("x.step", "x.delay_us")
        .filter(F.col("delay_us").isNotNull())
    )
    return d.groupBy("step").agg(
        F.count("*").alias("n_users"),
        F.round(
            F.sum("delay_us").cast("bigint")
            / F.count("*").cast("double")
            / F.lit(1000000.0),
            4,
        ).alias("avg_s"),
        F.min("delay_us").cast("bigint").alias("min_us"),
        F.max("delay_us").cast("bigint").alias("max_us"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (bounded exponentially-weighted moving average)
# ---------------------------------------------------------------------------
_EWMA_DECAY = 0.7  # (1 - alpha); per-step weight multiplier
_EWMA_K = 8  # window length (weights below decay^K are truncated)


@query(
    "events_ewma",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT a.user_id, a.event_id,
           round(a.value, 4) AS value,
           round(sum(power({_EWMA_DECAY}, a.rn - b.rn) * b.value)
                 / sum(power({_EWMA_DECAY}, a.rn - b.rn)), 4) AS ewma
    FROM r a JOIN r b
      ON b.user_id = a.user_id
     AND b.rn BETWEEN a.rn - {_EWMA_K - 1} AND a.rn
    GROUP BY a.user_id, a.event_id, a.value
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of the event
    value: weight decay^d for the reading d steps back, truncated at
    {k} steps (weights past that are < decay^{k} of the newest --
    numerically negligible), normalized by the realized weight mass
    so early rows with short histories are unbiased.

    EWMA's recursive form (s_t = a*x_t + (1-a)*s_t-1) is an
    order-dependent scan that neither engine's window algebra
    expresses; the bounded form used here is the standard distributed
    rewrite: a band self-join on the per-user row_number (an
    equi-join on user_id plus a length-{k} range predicate), then one
    grouped weighted sum.  Fan-out is a fixed {k}x, so cost stays
    O(k * events) at any scale; both the row_number window and the
    join shuffle on user_id, and AQE coalesces the tiny tail
    partitions."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.select(
        "user_id", "event_id", "value", F.row_number().over(w).alias("rn")
    )
    a = r.select(
        "user_id",
        "event_id",
        "value",
        F.col("rn").alias("rn_a"),
    )
    b = r.select(
        F.col("user_id").alias("b_user"),
        F.col("rn").alias("rn_b"),
        F.col("value").alias("b_value"),
    )
    weight = F.pow(F.lit(_EWMA_DECAY), F.col("rn_a") - F.col("rn_b"))
    return (
        a.join(
            b,
            (F.col("b_user") == F.col("user_id"))
            & (F.col("rn_b") >= F.col("rn_a") - (_EWMA_K - 1))
            & (F.col("rn_b") <= F.col("rn_a")),
        )
        .groupBy("user_id", "event_id", "value")
        .agg(
            F.round(
                F.sum(weight * F.col("b_value")) / F.sum(weight), 4
            ).alias("ewma")
        )
        .select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            "ewma",
        )
    )


events_ewma.__doc__ = events_ewma.__doc__.format(k=_EWMA_K)


# ---------------------------------------------------------------------------
# Interval-overlap join: user sessions x globally busy hours, via
# bounded bucket fan-out + equi-join (never a range cross join)
# ---------------------------------------------------------------------------
@query(
    "interval_overlap_join",
    oracle="""
    WITH t AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t
    ),
    sess AS (
      SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
      FROM s GROUP BY user_id, session_id
    ),
    hours AS (
      SELECT date_trunc('hour', ts) AS hr, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    stats AS (SELECT sum(cnt) AS total, count(*) AS n FROM hours),
    busy AS (
      SELECT hr FROM hours, stats WHERE cnt > 1.2 * total / n
    ),
    hit AS (
      SELECT DISTINCT se.user_id, se.session_id
      FROM sess se JOIN busy b
        ON b.hr + INTERVAL 1 HOUR > se.st AND b.hr <= se.en
    )
    SELECT se.user_id,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN h.session_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_busy_sessions
    FROM sess se
    LEFT JOIN hit h ON h.user_id = se.user_id
                   AND h.session_id = se.session_id
    GROUP BY se.user_id
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: per user, how many of their sessions
    (1 h-gap sessionization, [first event, last event]) overlap a
    globally BUSY hour (hourly event count > 1.2x the mean hourly
    count) -- the interval x interval join every ops/billing pipeline
    runs (sessions x incidents, usage x peak-pricing windows).

    Scale: the oracle states the natural range predicate (hr < en,
    hr + 1h > st); the engine never executes a range cross join --
    each session EXPLODES into its covered hour buckets (fan-out
    bounded by session duration in hours, small by construction) and
    overlap becomes an equi-join on the bucket key, the standard
    binning rewrite that keeps interval joins shuffle-partitionable
    when BOTH sides are data-scale.  Here the busy-hour side is also
    tiny, so the equi-join additionally broadcasts; sessionization
    itself is Spark's native session_window (one shuffle keyed by
    user)."""
    e = _events(spark, sf_dir)
    hours = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count("*").alias("cnt")
    )
    stats = hours.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n")
    )
    busy = (
        hours.crossJoin(F.broadcast(stats))
        .filter(
            F.col("cnt") > F.lit(1.2) * F.col("total") / F.col("n")
        )
        .select("hr")
    )
    sess = (
        e.groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
        .select("user_id", "st", "en")
    )
    cover = sess.select(
        "user_id",
        "st",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "st"),
                F.date_trunc("hour", "en"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hr"),
    )
    hit = (
        cover.join(F.broadcast(busy), "hr")
        .select("user_id", "st")
        .distinct()
        .withColumn("is_busy", F.lit(1))
    )
    return (
        sess.join(hit, ["user_id", "st"], "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(F.coalesce(F.col("is_busy"), F.lit(0)))
            .cast("bigint")
            .alias("n_busy_sessions"),
        )
    )


# ---------------------------------------------------------------------------
# M4 time-series downsampling (min/max/first/last per pixel bucket)
# ---------------------------------------------------------------------------
_M4_BUCKETS_PER_DAY = 4  # 6-hour pixels


@query(
    "events_m4_downsample",
    oracle=f"""
    WITH b AS (
      SELECT time_bucket(INTERVAL 6 HOURS, ts) AS bucket, ts, value, event_id
      FROM events
    )
    SELECT CAST(bucket AS VARCHAR) AS bucket,
           count(*) AS n_points,
           round(min(value), 4) AS v_min,
           round(max(value), 4) AS v_max,
           round(min_by(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                        || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4)
               AS v_first,
           round(max_by(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                        || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4)
               AS v_last
    FROM b GROUP BY bucket
    """,
)
def events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB'14): each
    6-hour pixel bucket keeps exactly the four points a line plot can
    render -- min, max, first, last -- which provably preserves the
    pixel-perfect shape of the series while collapsing any volume to
    4 rows per pixel.  The dashboard-serving query every monitoring
    stack runs between the raw store and the chart.

    Scale: one partial-aggregating shuffle keyed on the bucket --
    min/max/min_by/max_by all combine map-side, so the exchange
    carries 4 values per (bucket, partition) however large the raw
    stream.  Ties on ts are broken by event_id in BOTH engines
    (min_by/max_by over the (ts, event_id) pair), so first/last are
    deterministic under any partitioning."""
    e = _events(spark, sf_dir)
    b = e.select(
        F.window("ts", "6 hours").start.alias("bucket_ts"),
        "ts",
        "value",
        "event_id",
    )
    # a lexicographically sortable scalar key: DuckDB's min_by/max_by
    # take no composite keys, so both engines order by the same
    # zero-padded (epoch_us, event_id) string
    pair = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return b.groupBy("bucket_ts").agg(
        F.count("*").alias("n_points"),
        F.round(F.min("value"), 4).alias("v_min"),
        F.round(F.max("value"), 4).alias("v_max"),
        F.round(F.min_by("value", pair), 4).alias("v_first"),
        F.round(F.max_by("value", pair), 4).alias("v_last"),
    ).select(
        F.col("bucket_ts").cast("string").alias("bucket"),
        "n_points",
        "v_min",
        "v_max",
        "v_first",
        "v_last",
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution with exponential time decay
# ---------------------------------------------------------------------------
# Rebase timestamps to the corpus epoch so exp(ts/tau) stays finite:
# exp(epoch_seconds/86400) overflows, exp(days_since_base) does not.
_ATTR_BASE = "2024-01-01"
_ATTR_WINDOW_S = 7 * 86400  # lookback


@query(
    "attribution_time_decay",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type,
             CAST(epoch(ts) - epoch(TIMESTAMP '{_ATTR_BASE}') AS BIGINT)
               AS sec
      FROM events
    ),
    scanned AS (
      SELECT user_id, event_type, sec,
             sum(CASE WHEN event_type = 'click' THEN exp(sec / 86400.0) END)
               OVER (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN {_ATTR_WINDOW_S} PRECEDING
                           AND CURRENT ROW) AS s_click,
             sum(CASE WHEN event_type = 'view' THEN exp(sec / 86400.0) END)
               OVER (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN {_ATTR_WINDOW_S} PRECEDING
                           AND CURRENT ROW) AS s_view
      FROM e
    ),
    purchases AS (
      SELECT coalesce(s_click, 0) AS s_click, coalesce(s_view, 0) AS s_view
      FROM scanned WHERE event_type = 'purchase'
        AND coalesce(s_click, 0) + coalesce(s_view, 0) > 0
    )
    SELECT t.touch_type,
           round(sum(CASE t.touch_type WHEN 'click' THEN s_click
                     ELSE s_view END / (s_click + s_view)), 4) AS total_credit,
           count(*) FILTER (WHERE CASE t.touch_type WHEN 'click' THEN s_click
                                  ELSE s_view END > 0) AS n_purchases
    FROM purchases, (VALUES ('click'), ('view')) AS t(touch_type)
    GROUP BY t.touch_type
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution with exponential time decay: every
    purchase splits one unit of credit across the clicks and views
    that preceded it within a 7-day lookback, each touch weighted
    exp(-age/tau) with tau = 1 day, then credit totals roll up per
    touch type (the marketing-mix readout last-touch attribution --
    events_attribution -- cannot give).

    The decisive trick is that the decayed sum FACTORS:

        sum_t exp(-(T - t)/tau)  =  exp(-T/tau) * sum_t exp(t/tau)

    so the per-purchase touch mass is an ordinary windowed SUM of
    exp(t/tau) over a [7d PRECEDING, CURRENT] range frame partitioned
    by user -- no purchase x touch self-join ever materializes (the
    naive range join is |purchases| x |touches-in-window| rows).  In
    the normalized share the exp(-T/tau) factor cancels entirely.
    The purchase row itself and other purchases contribute NULL to
    the touch sums, so no self-attribution; timestamps are rebased to
    the corpus epoch so exp() stays in range.  One shuffle on
    user_id, output two rows."""
    e = read_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        (
            F.unix_timestamp(F.col("ts"))
            - F.unix_timestamp(F.lit(_ATTR_BASE).cast("timestamp"))
        ).alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-_ATTR_WINDOW_S, 0)
    )
    decayed = F.exp(F.col("sec") / 86400.0)
    scanned = e.select(
        "event_type",
        F.sum(F.when(F.col("event_type") == "click", decayed)).over(w).alias(
            "s_click"
        ),
        F.sum(F.when(F.col("event_type") == "view", decayed)).over(w).alias(
            "s_view"
        ),
    )
    purchases = (
        scanned.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce("s_click", F.lit(0.0)).alias("s_click"),
            F.coalesce("s_view", F.lit(0.0)).alias("s_view"),
        )
        .filter(F.col("s_click") + F.col("s_view") > 0)
    )
    per_type = purchases.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("click").alias("touch_type"),
                    (F.col("s_click") / (F.col("s_click") + F.col("s_view"))).alias(
                        "credit"
                    ),
                ),
                F.struct(
                    F.lit("view").alias("touch_type"),
                    (F.col("s_view") / (F.col("s_click") + F.col("s_view"))).alias(
                        "credit"
                    ),
                ),
            )
        ).alias("t")
    ).select("t.touch_type", "t.credit")
    return per_type.groupBy("touch_type").agg(
        F.round(F.sum("credit"), 4).alias("total_credit"),
        F.count(F.when(F.col("credit") > 0, 1)).alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# Sequence pattern matching (MATCH_RECOGNIZE class)
# ---------------------------------------------------------------------------
_SEQ_PATTERN = "vc*p"  # view, any clicks, then purchase


@query(
    "events_pattern_match",
    oracle=rf"""
    WITH seqs AS (
      SELECT user_id,
             count(*) AS n_events,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(seq, '{_SEQ_PATTERN}')) AS BIGINT)
             AS n_matches,
           CAST(coalesce(list_max(list_transform(
                  regexp_extract_all(seq, '{_SEQ_PATTERN}'),
                  x -> len(x))), 0) AS BIGINT) AS longest_match
    FROM seqs
    """,
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-sequence pattern matching (the SQL MATCH_RECOGNIZE
    capability class): each user's event history, ordered by event
    time, is encoded one character per event (the five types have
    distinct initials) and scanned for the funnel regex '{pat}'
    (view, any clicks, then purchase), emitting per-user match count
    and the longest matched episode.  Regex-over-encoded-sequence is
    the classic engine rewrite for arbitrary event patterns --
    alternation, repetition, and optionality come free from the regex
    engine, where the conditional-aggregation funnel
    (events_funnel) hand-builds one fixed pattern.

    Scale shape: ONE shuffle on user_id; the per-entity sequence is
    assembled with sort_array over (ts, event_id, char) structs --
    JVM-side, no window, no UDF -- and its length is bounded by the
    per-entity event count (at deploy scale the same query groups by
    session_window so no string outgrows a session).  Both engines
    run greedy leftmost non-overlapping matching, so counts agree
    exactly."""
    e = read_events(spark, sf_dir)
    seqs = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("ch"),
                        )
                    )
                ),
                lambda s: s["ch"],
            ),
        ).alias("seq"),
    )
    matches = F.expr(f"regexp_extract_all(seq, '{_SEQ_PATTERN}', 0)")
    return seqs.select(
        "user_id",
        "n_events",
        F.size(matches).cast("bigint").alias("n_matches"),
        F.coalesce(
            F.array_max(F.transform(matches, lambda x: F.length(x))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("longest_match"),
    )


events_pattern_match.__doc__ = events_pattern_match.__doc__.format(
    pat=_SEQ_PATTERN
)


# ---------------------------------------------------------------------------
# Dead-letter quarantine: schema-on-read with corrupt-record routing
# ---------------------------------------------------------------------------
_DL_MOD = 47  # events with event_id % mod == 0 get a corrupted payload


@query(
    "events_dead_letter",
    oracle=f"""
    WITH fed AS (
      SELECT event_type,
             CASE WHEN event_id % {_DL_MOD} = 0
                  THEN substring(props, 1, length(props) - 1)
                  ELSE props END AS payload
      FROM events
    ),
    parsed AS (
      SELECT event_type,
             CASE WHEN json_valid(payload)
                  THEN CAST(payload ->> 'k' AS BIGINT) END AS k
      FROM fed
    )
    SELECT event_type,
           count(*) AS n_rows,
           CAST(count(*) - count(k) AS BIGINT) AS n_quarantined,
           CAST(sum(k) AS BIGINT) AS sum_k
    FROM parsed GROUP BY event_type
    """,
)
def events_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record quarantine, the landing-zone robustness pattern: a
    feed where ~1/{mod} of the JSON payloads are corrupt (last byte
    truncated -- unbalanced JSON -- injected deterministically so
    both engines see the same feed) is parsed schema-on-read; rows whose payload fails to parse
    are ROUTED to the dead-letter side of the accounting instead of
    poisoning the batch, and the parsed side proves it extracted real
    values (sum of the payload field).  from_json's PERMISSIVE null
    on malformed input is exactly the corrupt-record channel Spark's
    JSON source exposes (columnNameOfCorruptRecord); at deploy the
    quarantined rows land in a dead-letter table with their raw
    bytes for replay, and the pipeline never aborts on one bad
    producer.

    Scale shape: one scan, parse + route + aggregate in a single
    narrow pass, map-side combinable -- quarantining is a projection,
    not a filter-and-rescan."""
    parsed = dead_letter_frame(read_events(spark, sf_dir))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("k")).alias("n_quarantined"),
        F.sum("k").alias("sum_k"),
    )


events_dead_letter.__doc__ = events_dead_letter.__doc__.format(mod=_DL_MOD)


def dead_letter_frame(events: DataFrame) -> DataFrame:
    """Per-row parse-or-quarantine core shared by the batch accounting
    query above and the streaming gate
    (streaming/jobs.py::dead_letter_stream): corrupt the deterministic
    1/mod slice (stand-in for a bad producer), parse schema-on-read,
    and emit (event_id, event_type, quarantined, k).  Stateless narrow
    projections only, so streaming output over any landing set equals
    this frame over the same rows."""
    payload = F.when(
        F.col("event_id") % _DL_MOD == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    d = F.from_json(payload, "k BIGINT")
    return events.select(
        "event_id",
        "event_type",
        d["k"].isNull().alias("quarantined"),
        d["k"].alias("k"),
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution: heavy transition count + bounded iterate
# ---------------------------------------------------------------------------
_MARKOV_SCALE = 10**9
_MARKOV_STEPS = 3


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT event_type AS i,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS j
      FROM events
    ),
    t AS (SELECT i, j, count(*) AS n FROM seq WHERE j IS NOT NULL
          GROUP BY 1, 2),
    rowtot AS (SELECT i, CAST(sum(n) AS BIGINT) AS tot FROM t GROUP BY 1),
    tm AS (SELECT t.i, t.j, t.n, r.tot FROM t JOIN rowtot r ON r.i = t.i),
    states AS (SELECT DISTINCT i FROM t),
    p0 AS (SELECT i AS s,
                  CAST({_MARKOV_SCALE} // (SELECT count(*) FROM states)
                       AS BIGINT) AS v
           FROM states),
    p1 AS (SELECT tm.j AS s, CAST(sum((p0.v * tm.n) // tm.tot) AS BIGINT) AS v
           FROM p0 JOIN tm ON tm.i = p0.s GROUP BY 1),
    p2 AS (SELECT tm.j AS s, CAST(sum((p1.v * tm.n) // tm.tot) AS BIGINT) AS v
           FROM p1 JOIN tm ON tm.i = p1.s GROUP BY 1),
    p3 AS (SELECT tm.j AS s, CAST(sum((p2.v * tm.n) // tm.tot) AS BIGINT) AS v
           FROM p2 JOIN tm ON tm.i = p2.s GROUP BY 1)
    SELECT s AS state, v AS pi_scaled,
           round(v / {_MARKOV_SCALE / 100.0!r}, 2) AS pi_pct
    FROM p3
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does the clickstream settle?  The per-user next-event
    transition matrix is estimated from the full stream, then the
    stationary distribution is approached by {k} power-iteration
    steps from a uniform start -- the Markov-chain summary behind
    'steady-state mix of page types' and PageRank-style session
    models.

    Split exactly how a 100 TB deployment splits it: the DATA-SCALE
    work is one lead() window per user plus a count keyed on the tiny
    (from, to) pair space (one shuffle each); the ITERATION then runs
    entirely on the O(types^2) matrix -- each step a broadcast join +
    re-aggregation of a <= types-row vector, never touching events
    again.  Fixed-point arithmetic makes the result engine-exact:
    pi is carried scaled by {scale} as BIGINT and every term applies
    floor((v * n) / rowtotal) in integer division, so Spark and
    DuckDB agree bit-for-bit (same discipline as
    embedding_power_iteration; no float crosses the boundary until
    the display percentage)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("i"),
        F.lead("event_type").over(w).alias("j"),
    )
    t = (
        seq.filter(F.col("j").isNotNull())
        .groupBy("i", "j")
        .agg(F.count("*").alias("n"))
    )
    rowtot = t.groupBy("i").agg(F.sum("n").cast("bigint").alias("tot"))
    tm = t.join(rowtot, "i").localCheckpoint(eager=True)
    states = tm.select("i").distinct()
    n_states = states.count()
    pi = states.select(
        F.col("i").alias("s"),
        F.lit(_MARKOV_SCALE // n_states).cast("bigint").alias("v"),
    )
    for _ in range(_MARKOV_STEPS):
        pi = (
            pi.join(F.broadcast(tm), pi.s == tm.i)
            .select(
                F.col("j").alias("s2"),
                F.expr("(v * n) div tot").alias("term"),
            )
            .groupBy("s2")
            .agg(F.sum("term").cast("bigint").alias("v"))
            .withColumnRenamed("s2", "s")
        )
    return pi.select(
        F.col("s").alias("state"),
        F.col("v").alias("pi_scaled"),
        F.round(F.col("v") / (_MARKOV_SCALE / 100.0), 2).alias("pi_pct"),
    )


events_markov_stationary.__doc__ = events_markov_stationary.__doc__.replace(
    "{k}", str(_MARKOV_STEPS)
).replace("{scale}", str(_MARKOV_SCALE))


# ---------------------------------------------------------------------------
# Watermark sizing: lateness histogram over arrival order (prefix max)
# ---------------------------------------------------------------------------
_WM_BANDS_SQL = """CASE WHEN late_s = 0 THEN 0
              WHEN late_s <= 3600 THEN 1
              WHEN late_s <= 86400 THEN 2
              WHEN late_s <= 259200 THEN 3
              ELSE 4 END"""
_WM_LABELS = (
    "on-time", "<=1h", "<=1d", "<=3d", ">3d"
)


@query(
    "events_watermark_audit",
    oracle=f"""
    WITH feed AS (
      SELECT epoch_us(ts) AS tu,
             event_id * 2
               + CASE WHEN event_id % 7 = 0 THEN 2001 ELSE 0 END AS arrival
      FROM events
    ),
    arr AS (
      SELECT arrival, tu,
             max(tu) OVER (ORDER BY arrival
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hw
      FROM feed
    ),
    lat AS (
      SELECT CASE WHEN hw IS NULL OR tu >= hw THEN 0
                  ELSE (hw - tu) // 1000000 END AS late_s
      FROM arr
    ),
    banded AS (
      SELECT {_WM_BANDS_SQL} AS band,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(late_s) AS BIGINT) AS max_late_s
      FROM lat GROUP BY 1
    )
    SELECT band,
           ['on-time', '<=1h', '<=1d', '<=3d', '>3d'][band + 1] AS label,
           n_events, max_late_s,
           round(100.0 * sum(n_events) OVER (ORDER BY band)
                 / sum(n_events) OVER (), 2) AS cum_pct
    FROM banded
    """,
)
def events_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How late does this feed actually run?  Replaying the stream in
    ARRIVAL order (staged deterministically: every 7th event is
    displaced past ~1000 later arrivals), each event's lateness is
    the gap between the event-time high-water mark at its arrival and
    its own timestamp -- exactly what a Structured Streaming
    watermark would measure -- and the banded histogram with
    cumulative coverage is the evidence for CHOOSING the watermark: a
    '<=1d' row at 99.98% says `withWatermark('1 day')` keeps all but
    2 in 10k events, and what each longer delay buys in state cost.

    Scale shape: the running high-water mark is a GLOBAL prefix max
    over arrival order -- computed with the three-level hierarchical
    scan (operators/prefix.py::exclusive_cummax), so no task ever
    holds more than a bucket even though the quantity is inherently
    sequential; banding and the five-row cumulative window are then
    O(bands).  All lateness arithmetic is integer microseconds ->
    floored seconds; the only float is the display percentage."""
    from ..operators.prefix import exclusive_cummax

    e = _events(spark, sf_dir)
    feed = e.select(
        F.unix_micros(F.col("ts")).alias("tu"),
        (
            F.col("event_id") * 2
            + F.when(F.col("event_id") % 7 == 0, 2001).otherwise(0)
        ).alias("arrival"),
    )
    scanned = exclusive_cummax(feed, key="arrival", value="tu", out="hw")
    late = scanned.select(
        F.when(
            F.col("hw").isNull() | (F.col("tu") >= F.col("hw")), F.lit(0)
        )
        .otherwise(F.expr("(hw - tu) div 1000000"))
        .alias("late_s")
    )
    band = (
        F.when(F.col("late_s") == 0, 0)
        .when(F.col("late_s") <= 3600, 1)
        .when(F.col("late_s") <= 86400, 2)
        .when(F.col("late_s") <= 259200, 3)
        .otherwise(4)
    )
    banded = late.groupBy(band.alias("band")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
    )
    from pyspark.sql.window import Window

    wb = Window.orderBy("band")  # O(bands) rows
    labels = F.array(*[F.lit(x) for x in _WM_LABELS])
    return banded.select(
        "band",
        F.element_at(labels, F.col("band") + 1).alias("label"),
        "n_events",
        "max_late_s",
        F.round(
            100.0
            * F.sum("n_events").over(wb)
            / F.sum("n_events").over(Window.partitionBy()),
            2,
        ).alias("cum_pct"),
    )


# ---------------------------------------------------------------------------
# Exact per-group p95 via grouped rank selection
# ---------------------------------------------------------------------------
@query(
    "events_exact_p95",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    n AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST((count(*) * 95 + 99) // 100 AS BIGINT) AS target_rank
      FROM v GROUP BY event_type
    ),
    o AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn
      FROM v
    )
    SELECT n.event_type, n.n_events, n.target_rank,
           o.c AS p95_cents
    FROM n JOIN o ON o.event_type = n.event_type
                 AND o.rn = n.target_rank
    ORDER BY n.event_type
    """,
)
def events_exact_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p95 event value per event type -- the latency-SLO
    readout where percentile_approx's error bound is exactly what an
    SLO audit cannot accept.  One rank query per group rides the
    shared histogram-narrowing selector (qid = event_type), so ALL
    groups resolve in the same aggregation passes: per-round state is
    (groups x bins) rows, and no stage sorts at all.  Contrast the
    textbook row_number-per-group window (the oracle's plan): correct,
    but its
    shuffle sorts every group's full history; the selector touches
    full data only with constant-size combinable state.  Rank
    ceil(0.95 n) on integer cents -- engine-exact."""
    from ..operators.selection import rank_select

    e = read_events(spark, sf_dir)
    v = e.select(
        F.col("event_type").alias("qid"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    ).localCheckpoint(eager=True)

    # min/max ride the SAME per-group aggregation that computes the
    # rank and feed rank_select as its bounds (guide §2.4: two
    # operations keyed the same way share one pass).
    n = v.groupBy("qid").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.expr("(count(*) * 95 + 99) div 100").cast("bigint").alias("rank"),
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
    ).collect()
    sel = rank_select(
        v, {r.qid: r.rank for r in n}, {r.qid: (r.lo, r.hi) for r in n}, bins=64
    )
    return local_frame(
        spark,
        sorted((r.qid, r.n_events, r.rank, sel[r.qid]) for r in n if r.qid in sel),
        "event_type string, n_events bigint, target_rank bigint, p95_cents bigint",
    )
