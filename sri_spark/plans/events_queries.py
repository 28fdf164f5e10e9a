"""Event analytics catalog queries over the `events` fixture: windows,
sessions, funnels, joins and monitoring rollups, each paired with DuckDB
oracle SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sri_spark.plans.registry import register
from sri_spark.sources.testdata import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


@register(
    "events_window_agg",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event type: one F.window() hash
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_sessionize",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id, value,
             sum(new_session) OVER
               (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative-sum
    window, then per-session rollup — the classic batch sessionizer. Windows
    partition by user_id, so the sort is per-user, not global."""
    return sessionize(load_table(spark, sf_dir, "events"))


def sessionize(ev: DataFrame) -> DataFrame:
    """The DF-level sessionizer the catalog query and the bench 10x replay
    share: per-user lag/cumsum windows over (ts, event_id), then the
    per-session rollup. Cost scales with rows within each user partition —
    no global sort anywhere."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > SESSION_GAP_US,
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "events_session_window_native",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in session_window(gap) aggregation — the operator Structured
    Streaming uses for streaming sessions. Boundary semantics: a session
    extends to last_event + gap exclusive, so a new session starts when the
    inter-event difference is >= gap (the oracle reconstructs exactly that;
    the lag/cumsum twin `events_sessionize` uses strict > — both are valid
    sessionizers, this one matches the engine's native operator)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_sliding_window",
    """
    WITH expanded AS (
      SELECT e.*, time_bucket(INTERVAL 30 MINUTE, ts) - (i * INTERVAL 30 MINUTE)
               AS win_start
      FROM events e, (SELECT unnest([0, 1]) AS i)
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM expanded
    WHERE ts >= win_start AND ts < win_start + INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes: each event lands in two
    overlapping windows. F.window(slide) generates window membership
    JVM-side; the oracle reconstructs it with an offset unnest."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_pivot_by_type",
    """
    SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
    FROM events
    GROUP BY user_id
    """,
)
def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) per-user event-type counts. Explicit pivot
    values keep the schema static (no extra distinct-values job) — required
    for both determinism and a single-pass plan at scale."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill({t: 0 for t in EVENT_TYPES})
    )
    return wide.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in EVENT_TYPES]
    )


@register(
    "events_json_metrics",
    """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS usuarios,
           round(avg(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
           round(max(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: JSON path extraction + grouped metrics
    (get_json_object is codegen'd — no Python in the loop)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("double")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("usuarios"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.round(F.max(k), 4).alias("max_k"),
    )


@register(
    "events_enrich_static",
    """
    SELECT COALESCE(c.c_mktsegment, 'SIN_SEGMENTO') AS segmento,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS usuarios,
           round(sum(e.value), 2) AS total_value
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def events_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich events with the customer segment (broadcast dim), then roll
    up per segment."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        _enrich_events_with_dim(ev, cust)
        .groupBy("segmento")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("usuarios"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def _enrich_events_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Left-join each event to a dimension keyed by user_id (here the
    customer segment). The dimension is broadcast: it is dimension-sized,
    while the events grow with the data."""
    d = dim.select(
        F.col("c_custkey").alias("__dim_key"),
        F.col("c_mktsegment").alias("segmento"),
    )
    joined = events.join(F.broadcast(d), events["user_id"] == d["__dim_key"], "left")
    return joined.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.coalesce(F.col("segmento"), F.lit("SIN_SEGMENTO")).alias("segmento"),
    )


@register(
    "events_interval_join",
    """
    SELECT c.event_id AS click_id,
           v.event_id AS view_id,
           c.user_id,
           CAST(epoch_us(c.ts::TIMESTAMP) - epoch_us(v.ts::TIMESTAMP) AS BIGINT)
             AS lag_us
    FROM events c
    JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts <= c.ts
     AND v.ts >= c.ts - INTERVAL 1 HOUR
    """,
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (click, view-from-the-preceding-hour) pair per user: a
    time-interval join, planned as a sort-merge join on user_id with the
    time bound as a range residual."""
    clicks, views = _click_view_sides(load_table(spark, sf_dir, "events"))
    return _click_view_interval_join(clicks, views)


def _click_view_sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split an events frame into the interval join's two sides."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        F.col("user_id").alias("v_user_id"),
    )
    return clicks, views


def _click_view_interval_join(clicks: DataFrame, views: DataFrame) -> DataFrame:
    """Pair every click with the same user's views from the preceding hour."""
    cond = (
        (clicks["user_id"] == views["v_user_id"])
        & (views["view_ts"] <= clicks["click_ts"])
        & (views["view_ts"] >= clicks["click_ts"] - F.expr("INTERVAL 1 HOUR"))
    )
    return clicks.join(views, cond).select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("lag_us"),
    )


FUNNEL_STEPS = ["signup", "view", "click", "purchase"]

_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) FILTER (event_type = 'signup') AS t1 FROM events
  GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, any_value(t1) AS t1,
         min(e.ts) FILTER (e.event_type = 'view' AND e.ts > t1) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, any_value(t1) AS t1, any_value(t2) AS t2,
         min(e.ts) FILTER (e.event_type = 'click' AND e.ts > t2) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, any_value(t1) AS t1, any_value(t2) AS t2,
         any_value(t3) AS t3,
         min(e.ts) FILTER (e.event_type = 'purchase' AND e.ts > t3) AS t4
  FROM events e JOIN s3 ON e.user_id = s3.user_id GROUP BY e.user_id
)
SELECT 1 AS stage, 'signup' AS step, count(t1) AS n_users FROM s4
UNION ALL SELECT 2, 'view', count(t2) FROM s4
UNION ALL SELECT 3, 'click', count(t3) FROM s4
UNION ALL SELECT 4, 'purchase', count(t4) FROM s4
"""


@register("events_funnel", _FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> view -> click -> purchase: a user
    counts at stage k only with a strictly-later event at every prior stage
    (the classic sequential funnel, not mere set membership).

    Shape at scale: one aggregation per stage, ALL keyed on user_id — after
    the first shuffle the data is already hash-partitioned by user_id, so
    the follow-on joins+aggregates co-locate (no further full-table
    exchanges of the events side); the result is 4 rows."""
    ev = load_table(spark, sf_dir, "events")

    def first_after(prev_col: str | None, step: str) -> F.Column:
        cond = F.col("event_type") == step
        if prev_col is not None:
            cond = cond & (F.col("ts") > F.col(prev_col))
        return F.min(F.when(cond, F.col("ts")))

    cur = ev.groupBy("user_id").agg(first_after(None, "signup").alias("t1"))
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        cur = (
            ev.join(cur, "user_id")
            .groupBy("user_id")
            .agg(
                *[F.first(f"t{k}").alias(f"t{k}") for k in range(1, i)],
                first_after(f"t{i-1}", step).alias(f"t{i}"),
            )
        )
    rows = [
        F.struct(
            F.lit(i + 1).alias("stage"),
            F.lit(step).alias("step"),
            F.count(f"t{i+1}").alias("n_users"),
        )
        for i, step in enumerate(FUNNEL_STEPS)
    ]
    return (
        cur.agg(F.array(*rows).alias("stages"))
        .select(F.explode("stages").alias("s"))
        .select("s.stage", "s.step", "s.n_users")
    )


_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM events
  GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, cohort_week, date_trunc('week', e.ts) AS active_week
  FROM events e JOIN firsts USING (user_id)
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       (date_diff('day', cohort_week, active_week) // 7) AS week_offset,
       count(*) AS n_users
FROM activity
GROUP BY 1, 2
"""


@register("events_cohort_retention", _COHORT_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    once per (cohort, active-week offset). Two user-keyed aggregations and
    a distinct — all co-partitioned on user_id after the first shuffle; the
    final rollup is |cohorts x offsets| rows."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", F.col("ts")).alias("active_week"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.to_date("active_week"), F.to_date("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


ZSCORE_WINDOW = 20  # trailing rows per user
ZSCORE_MIN_N = 5  # emit z only once the window holds enough history

_ZSCORE_ORACLE = f"""
WITH stats AS (
  SELECT user_id, event_id, value,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sigma,
         count(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ZSCORE_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       round((value - mu) / sigma, 6) AS zscore
FROM stats
WHERE n >= {ZSCORE_MIN_N} AND sigma > 0
"""


@register("events_rolling_zscore", _ZSCORE_ORACLE)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling z-score of event value over a trailing
    {ZSCORE_WINDOW}-row frame — the anomaly-scoring primitive for metric
    streams. One window (partitioned by user_id, ROWS frame — per-user sort
    only, never global); mean/std/count come from the same frame pass."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ZSCORE_WINDOW - 1), 0)
    )
    stats = ev.select(
        "user_id",
        "event_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count("*").over(w).alias("n"),
    )
    return stats.filter(
        (F.col("n") >= ZSCORE_MIN_N) & (F.col("sigma") > 0)
    ).select(
        "user_id",
        "event_id",
        F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias("zscore"),
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95

_WINSOR_ORACLE = f"""
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, {WINSOR_LO}) AS lo,
         quantile_cont(value, {WINSOR_HI}) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(e.value, 6) AS value,
       round(CASE WHEN e.value < b.lo THEN b.lo
                  WHEN e.value > b.hi THEN b.hi
                  ELSE e.value END, 6) AS value_winsorized,
       (e.value < b.lo OR e.value > b.hi) AS clipped
FROM events e JOIN bounds b ON e.event_type = b.event_type
"""


@register("events_winsorize_value", _WINSOR_ORACLE)
def events_winsorize_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clip to [p05, p95]) — the outlier-capping
    pass metric pipelines run before aggregation. One exact-percentile
    aggregate per event type, joined back (the bounds table is
    |event_types| rows — AQE broadcasts it); `percentile_approx` is the
    documented swap-in at 100 TB group cardinalities."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(WINSOR_LO)).alias("lo"),
        F.percentile("value", F.lit(WINSOR_HI)).alias("hi"),
    )
    return ev.join(bounds, "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round(
            F.when(F.col("value") < F.col("lo"), F.col("lo"))
            .when(F.col("value") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("value")),
            6,
        ).alias("value_winsorized"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clipped"
        ),
    )


_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS cur,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
),
trans AS (
  SELECT prev, cur, count(*) AS n FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
),
totals AS (SELECT prev, sum(n) AS n_total FROM trans GROUP BY 1)
SELECT t.prev, t.cur, t.n,
       round(t.n / tt.n_total, 6) AS p
FROM trans t JOIN totals tt USING (prev)
"""


@register("events_markov_transitions", _MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types (per-user
    sequences, global probabilities): P(next | prev) with transition
    counts — the behavioral-sequence feature and the sanity check sequence
    models get compared against. One per-user lag window, one hash
    aggregate, and the denominator derives from the transition table (no
    second corpus pass)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    trans = seq.groupBy("prev", "cur").agg(F.count("*").alias("n"))
    totals = trans.groupBy("prev").agg(F.sum("n").alias("n_total"))
    return trans.join(totals, "prev").select(
        "prev",
        "cur",
        "n",
        F.round(F.col("n") / F.col("n_total"), 6).alias("p"),
    )


_VALUE_FN_ORACLE = """
SELECT user_id, event_id,
       round(first_value(value) OVER w, 6) AS first_v,
       round(last_value(value) OVER
         (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6) AS last_v,
       round(nth_value(value, 3) OVER
         (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6) AS third_v,
       round(value - first_value(value) OVER w, 6) AS delta_from_first
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""


@register("window_value_functions", _VALUE_FN_ORACLE)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window VALUE-function family (first_value / last_value /
    nth_value) next to the rank family (window_rank_family): per-user
    baseline, final, and third reading plus delta-from-baseline. The
    last/nth calls pin an explicit unbounded-both-ways frame — the classic
    footgun is last_value over the DEFAULT frame (unbounded-preceding..
    current row), which just returns the current row."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.first("value").over(w), 6).alias("first_v"),
        F.round(F.last("value").over(w_full), 6).alias("last_v"),
        F.round(F.nth_value("value", 3).over(w_full), 6).alias("third_v"),
        F.round(F.col("value") - F.first("value").over(w), 6).alias(
            "delta_from_first"
        ),
    )


ATTR_WINDOW_US = 24 * 3600 * 1_000_000  # attribute purchases to clicks <=24h prior

_MULTITOUCH_ORACLE = f"""
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
),
touches AS (
  SELECT p.purchase_id, p.user_id, p.value, c.click_id,
         count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
  FROM purchases p JOIN clicks c
    ON p.user_id = c.user_id
   AND c.c_ts <= p.p_ts
   AND epoch_us(p.p_ts) - epoch_us(c.c_ts) <= {ATTR_WINDOW_US}
)
SELECT click_id,
       count(*) AS n_purchases,
       round(sum(value / n_touches), 6) AS attributed_value
FROM touches
GROUP BY click_id
"""


@register("events_attribution_multitouch", _MULTITOUCH_ORACLE)
def events_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value splits equally
    across the user's clicks in the preceding 24 h (the marketing model
    next to join_asof_attribution's last-touch). The time-band join keys
    on user_id (never a cross join); the per-purchase touch count is a
    window over the join output, so credit normalization adds no second
    join."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = purchases.join(
        clicks,
        (purchases["user_id"] == clicks["c_user"])
        & (clicks["c_ts"] <= purchases["p_ts"])
        & (
            F.unix_micros(purchases["p_ts"]) - F.unix_micros(clicks["c_ts"])
            <= ATTR_WINDOW_US
        ),
    ).withColumn(
        "n_touches", F.count("*").over(Window.partitionBy("purchase_id"))
    )
    return touches.groupBy("click_id").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum(F.col("value") / F.col("n_touches")), 6).alias(
            "attributed_value"
        ),
    )


SLI_ERROR_BUDGET = 0.25  # flag windows whose error share exceeds this

_SLI_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors,
       round(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             / count(*), 6) AS error_rate,
       (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        / count(*) > {SLI_ERROR_BUDGET}) AS budget_burned
FROM events
GROUP BY 1
"""


@register("events_error_rate_sli", _SLI_ORACLE)
def events_error_rate_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate SLI with an error-budget flag — the monitoring
    rollup every event pipeline publishes. One windowed hash aggregate
    (conditional sums ride the same pass as the counts)."""
    ev = load_table(spark, sf_dir, "events")
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(is_err).alias("n_errors"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_events",
            "n_errors",
            F.round(F.col("n_errors") / F.col("n_events"), 6).alias("error_rate"),
            (F.col("n_errors") / F.col("n_events") > SLI_ERROR_BUDGET).alias(
                "budget_burned"
            ),
        )
    )


_DAU_WAU_ORACLE = """
WITH du AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
spread AS (
  SELECT du.day + (i * INTERVAL 1 DAY) AS target_day, du.user_id
  FROM du, (SELECT unnest(generate_series(0, 6)) AS i)
),
wau AS (
  SELECT target_day AS day, count(DISTINCT user_id) AS wau
  FROM spread GROUP BY 1
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       d.dau, w.wau,
       round(d.dau / w.wau, 6) AS stickiness
FROM dau d JOIN wau w USING (day)
"""


@register("events_dau_wau", _DAU_WAU_ORACLE)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the product-metrics
    staple. Sliding DISTINCT cannot ride an ordinary window frame (distinct
    state isn't mergeable across frame slides), so each (day, user) row
    spreads to the 7 target days it keeps active — a bounded ×7 explode on
    the DEDUPLICATED day-user table, then two hash aggregates. At extreme
    scale swap the exact distinct for HLL sketches (agg_hll_sketch_merge
    shows the mergeable path) and union 7 daily sketches per target day."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    spread = du.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.col("day") + i.cast("int") * F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    )
    wau = spread.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
    )


BOT_BURST_THRESHOLD = 5  # events within one minute

_BOT_ORACLE = f"""
WITH per_min AS (
  SELECT user_id, date_trunc('minute', ts) AS minute, count(*) AS n
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id, max(n) AS max_per_min,
         round(avg(n), 4) AS avg_per_min,
         count(*) AS active_minutes
  FROM per_min GROUP BY 1
)
SELECT user_id, CAST(max_per_min AS BIGINT) AS max_per_min,
       avg_per_min, active_minutes,
       (max_per_min >= {BOT_BURST_THRESHOLD}) AS burst_flag
FROM per_user
"""


@register("events_bot_burst_flags", _BOT_ORACLE)
def events_bot_burst_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-based bot heuristics: per-user peak events-per-minute, average
    rate, active minutes, and a burst flag — the first-line abuse filter.
    Two stacked hash aggregates keyed on (user, minute) then user; no
    windows, no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count("*").alias("n"))
    return (
        per_min.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("max_per_min"),
            F.round(F.avg("n"), 4).alias("avg_per_min"),
            F.count("*").alias("active_minutes"),
        )
        .withColumn("burst_flag", F.col("max_per_min") >= BOT_BURST_THRESHOLD)
    )


_HEATMAP_ORACLE = """
SELECT CAST(isodow(ts) AS BIGINT) AS dia_iso,
       CAST(hour(ts) AS BIGINT) AS hora,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


@register("events_weekday_hour_heatmap", _HEATMAP_ORACLE)
def events_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap feed: events and distinct users per (ISO weekday,
    hour) cell — 168 output rows from one hash aggregate at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek(F.date_sub(F.to_date("ts"), 1)).cast("long").alias("dia_iso"),
            F.hour("ts").cast("long").alias("hora"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_FUNNEL_TIMING_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY 1
),
laps AS (
  SELECT user_id,
         (epoch_us(t_click) - epoch_us(t_signup)) / 1000000.0 AS signup_to_click_s,
         (epoch_us(t_purchase) - epoch_us(t_click)) / 1000000.0 AS click_to_purchase_s
  FROM firsts
  WHERE t_signup IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
    AND t_click >= t_signup AND t_purchase >= t_click
)
SELECT count(*) AS n_users,
       round(median(signup_to_click_s), 4) AS med_signup_to_click_s,
       round(median(click_to_purchase_s), 4) AS med_click_to_purchase_s,
       round(avg(signup_to_click_s), 4) AS avg_signup_to_click_s,
       round(avg(click_to_purchase_s), 4) AS avg_click_to_purchase_s
FROM laps
"""


@register("events_funnel_timing", _FUNNEL_TIMING_ORACLE)
def events_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel STEP LATENCIES (events_funnel counts conversions; this times
    them): per user, first occurrence of each step via conditional min —
    one hash aggregate, no joins between steps — then median/mean lap
    times over users whose steps occur in order."""
    ev = load_table(spark, sf_dir, "events")

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    lap1 = (F.unix_micros("t_click") - F.unix_micros("t_signup")) / 1_000_000.0
    lap2 = (F.unix_micros("t_purchase") - F.unix_micros("t_click")) / 1_000_000.0
    laps = firsts.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_click") >= F.col("t_signup"))
        & (F.col("t_purchase") >= F.col("t_click"))
    ).select(lap1.alias("s1"), lap2.alias("s2"))
    return laps.agg(
        F.count("*").alias("n_users"),
        F.round(F.median("s1"), 4).alias("med_signup_to_click_s"),
        F.round(F.median("s2"), 4).alias("med_click_to_purchase_s"),
        F.round(F.avg("s1"), 4).alias("avg_signup_to_click_s"),
        F.round(F.avg("s2"), 4).alias("avg_click_to_purchase_s"),
    )


_NEW_RETURNING_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS first_day FROM events GROUP BY 1
)
SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN date_trunc('day', e.ts) = f.first_day
                     THEN 1 ELSE 0 END) AS BIGINT) AS eventos_nuevos,
       CAST(sum(CASE WHEN date_trunc('day', e.ts) != f.first_day
                     THEN 1 ELSE 0 END) AS BIGINT) AS eventos_recurrentes,
       count(DISTINCT CASE WHEN date_trunc('day', e.ts) = f.first_day
                           THEN e.user_id END) AS usuarios_nuevos
FROM events e JOIN firsts f USING (user_id)
GROUP BY 1
"""


@register("events_new_vs_returning", _NEW_RETURNING_ORACLE)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split (growth accounting): a user's first-ever
    active day classifies that day's events as 'new'. One per-user min
    aggregate joined back on user_id (both sides share the partitioning),
    then a daily conditional rollup."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    day = F.date_trunc("day", "ts")
    is_new = day == F.col("first_day")
    return (
        ev.join(firsts, "user_id")
        .groupBy(F.date_format(day, "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("eventos_nuevos"),
            F.sum(F.when(~is_new, 1).otherwise(0))
            .cast("long")
            .alias("eventos_recurrentes"),
            F.countDistinct(F.when(is_new, F.col("user_id"))).alias(
                "usuarios_nuevos"
            ),
        )
    )


CHURN_DORMANT_DAYS = 7

_CHURN_ORACLE = f"""
WITH bounds AS (SELECT max(ts) AS corpus_end FROM events),
last_seen AS (
  SELECT user_id, max(ts) AS last_ts, count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT l.user_id,
       strftime(l.last_ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       l.n_events,
       round((epoch_us(b.corpus_end) - epoch_us(l.last_ts)) / 86400000000.0, 4)
         AS dias_inactivo,
       ((epoch_us(b.corpus_end) - epoch_us(l.last_ts)) / 86400000000.0
        > {CHURN_DORMANT_DAYS}) AS dormant_flag
FROM last_seen l CROSS JOIN bounds b
"""


@register("events_churn_risk_flags", _CHURN_ORACLE)
def events_churn_risk_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy / churn-risk flags: per-user recency against the corpus
    horizon (inactive > {CHURN_DORMANT_DAYS} days = dormant). One per-user
    aggregate + a 1-row horizon cross join — the recency feature of the
    RFM family computed event-side."""
    ev = load_table(spark, sf_dir, "events")
    last_seen = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("n_events")
    )
    bounds = ev.agg(F.max("ts").alias("corpus_end"))
    inactive_d = (
        F.unix_micros("corpus_end") - F.unix_micros("last_ts")
    ) / 86_400_000_000.0
    return last_seen.join(bounds).select(
        "user_id",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "n_events",
        F.round(inactive_d, 4).alias("dias_inactivo"),
        (inactive_d > CHURN_DORMANT_DAYS).alias("dormant_flag"),
    )


_SEQ_VIOLATION_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click
  FROM events GROUP BY 1
)
SELECT
  count(*) AS n_users,
  CAST(sum(CASE WHEN t_purchase IS NOT NULL AND t_signup IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS purchase_sin_signup,
  CAST(sum(CASE WHEN t_purchase < t_signup THEN 1 ELSE 0 END) AS BIGINT)
    AS purchase_antes_de_signup,
  CAST(sum(CASE WHEN t_click < t_signup THEN 1 ELSE 0 END) AS BIGINT)
    AS click_antes_de_signup
FROM firsts
"""


@register("events_sequence_violations", _SEQ_VIOLATION_ORACLE)
def events_sequence_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-integrity audit: users whose event order violates the
    expected lifecycle (purchases without/before signup, clicks before
    signup) — the data-quality check that catches id-stitching and
    clock-skew bugs upstream. One conditional-min aggregate + one scalar
    rollup; NULL-safe by three-valued logic (comparisons with missing
    steps contribute 0)."""
    ev = load_table(spark, sf_dir, "events")

    def first_of(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("purchase").alias("t_purchase"),
        first_of("click").alias("t_click"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(
            F.when(
                F.col("t_purchase").isNotNull() & F.col("t_signup").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("purchase_sin_signup"),
        F.sum(F.when(F.col("t_purchase") < F.col("t_signup"), 1).otherwise(0))
        .cast("long")
        .alias("purchase_antes_de_signup"),
        F.sum(F.when(F.col("t_click") < F.col("t_signup"), 1).otherwise(0))
        .cast("long")
        .alias("click_antes_de_signup"),
    )


_BOXPLOT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(min(value), 6) AS v_min,
       round(quantile_cont(value, 0.25), 6) AS q1,
       round(median(value), 6) AS mediana,
       round(quantile_cont(value, 0.75), 6) AS q3,
       round(max(value), 6) AS v_max,
       round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS iqr
FROM events
GROUP BY 1
"""


@register("events_value_boxplot", _BOXPLOT_ORACLE)
def events_value_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-number summary (+IQR) of event values per type — the boxplot
    feed and the input to IQR-fence outlier rules. Exact grouped
    percentiles at per-type cardinality; approx_percentile is the
    documented swap at extreme group sizes."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    q = lambda p: F.percentile(v, F.lit(p))
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 6).alias("v_min"),
        F.round(q(0.25), 6).alias("q1"),
        F.round(q(0.5), 6).alias("mediana"),
        F.round(q(0.75), 6).alias("q3"),
        F.round(F.max("value"), 6).alias("v_max"),
        F.round(q(0.75) - q(0.25), 6).alias("iqr"),
    )


@register(
    "events_pattern_cep",
    """
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(len(regexp_extract_all(seq, 'v[vc]*p')) AS BIGINT)
             AS n_conversions,
           CAST(count(*) AS BIGINT) AS n_users
    FROM seqs
    GROUP BY n_conversions
    ORDER BY n_conversions
    """,
)
def events_pattern_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (the MATCH_RECOGNIZE / Flink-CEP shape,
    relationally): encode each user's time-ordered event history as a
    character string (one letter per event type; order fixed by
    (ts, event_id) so the encoding is deterministic under any
    parallelism), then count non-overlapping matches of the conversion
    pattern `view (view|click)* purchase` — i.e. a view leading to a
    purchase with no error/signup in between — via one regex per user.

    Scale shape: ONE shuffle (the per-user collect), then the regex is a
    narrow per-row expression. Per-user histories are bounded by session
    behavior, not corpus size; for unbounded histories the documented
    variant runs the same encoding per (user, day) window. This covers the
    sequential-pattern class (A then B without C) that window functions
    express only with per-pattern gymnastics — the string encoding makes
    the pattern a regex literal."""
    ev = load_table(spark, sf_dir, "events")
    coded = ev.select(
        "user_id",
        F.struct(
            F.col("ts"),
            F.col("event_id"),
            F.substring("event_type", 1, 1).alias("c"),
        ).alias("s"),
    )
    seqs = coded.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda x: x["c"]), ""
        ).alias("seq")
    )
    n_conv = F.size(F.regexp_extract_all("seq", F.lit("v[vc]*p"), 0)).cast("long")
    return (
        seqs.groupBy(n_conv.alias("n_conversions"))
        .agg(F.count("*").alias("n_users"))
        .orderBy("n_conversions")
    )
