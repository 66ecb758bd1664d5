"""Event-time windowing over the `events` table (SURVEY §2.11).

The reference is pure batch; the driver testdata ships an events stream
table, so the engine exposes tumbling / sliding / session windows and
event dedup. Batch forms here (DuckDB-checkable); the Structured
Streaming forms of the same windows live in ``streaming/windows.py``
and are asserted equivalent in tests.

Scale: windowed aggs shuffle on (bucket, keys); session windows
shuffle on user_id — both partial-aggregate map-side. At 100 TB the
watermark bounds streaming state; batch forms are plain shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources.tables import table
from ..util import kernel, persist_tracked


def events_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       event_type,
       COUNT(*)              AS n_events,
       ROUND(SUM(value), 2)  AS sum_value
FROM events
GROUP BY 1, 2
"""


def events_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding windows: 1 hour long, sliding every 30 minutes — each
    event lands in exactly 2 windows. Oracle reproduces Spark's
    slide-aligned window starts by unnesting the two candidate starts."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "n_events", "avg_value")
    )


_SLIDING_SQL = """
WITH assigned AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
           AS bucket_start,
         value
  FROM events
)
SELECT bucket_start, COUNT(*) AS n_events, ROUND(AVG(value) + 1e-9, 4) AS avg_value
FROM assigned
GROUP BY bucket_start
"""


def events_session(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows, 15-minute inactivity gap, per user. Spark's
    session_window merges events whose [ts, ts+gap) ranges overlap →
    a new session starts when the gap is >= 15 min (strict overlap);
    the oracle's gaps-and-islands uses the same >= boundary."""
    ev = table(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '15 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_id
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM sess
GROUP BY user_id, sess_id
"""


def events_dedup_first(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic keep-first dedup: earliest event per (user_id,
    event_type). Spark's dropDuplicates is arrival-order-nondeterministic;
    the engine's dedup is a rank-1 window → reproducible everywhere."""
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


_DEDUP_FIRST_SQL = """
SELECT user_id, event_type, event_id, ts, value FROM (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events) t
WHERE rn = 1
"""


def events_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured props column: JSON path extraction + typed cast
    (the reference's string-typed metadata coercion analog, SURVEY §2.6
    map_str_to_float)."""
    ev = table(spark, sf, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k") + 1e-9, 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


_JSON_SQL = """
SELECT event_type,
       COUNT(*)  AS n_events,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)) + 1e-9, 4) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER))           AS max_k
FROM events
GROUP BY event_type
"""


def events_rate_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user activity profile: grouped stats + event-time span."""
    ev = table(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


_RATE_SQL = """
SELECT user_id,
       COUNT(*)                   AS n_events,
       COUNT(DISTINCT event_type) AS n_types,
       ROUND(AVG(value) + 1e-9, 4)       AS avg_value,
       MIN(ts)                    AS first_ts,
       MAX(ts)                    AS last_ts
FROM events
GROUP BY user_id
"""


def join_asof(spark: SparkSession, sf: str) -> DataFrame:
    """AS-OF JOIN — each purchase matched to the user's most recent
    click at-or-before it (the attribution shape). Spark has no asof
    operator; the scalable composition is the UNION-MERGE form, not a
    range join:

      tag both sides → one window per user ordered by (ts, side) →
      last(click attrs, ignoreNulls) carries the newest click forward
      → keep purchase rows.

    One shuffle on user_id, state = one row — O(n log n) per user and
    no candidate-pair blowup (a range join materializes every
    click×purchase pair within the bound before filtering, quadratic
    in busy users; the event-time-bounded form lives in
    stream_stream_join). Right-side duplicates at identical
    (user, ts) are pre-deduped keeping max event_id, matching the
    oracle's tie-break; the oracle is DuckDB's native ASOF LEFT JOIN.
    Sorting side=0 (click) before side=1 (purchase) at equal ts gives
    at-or-BEFORE semantics (ts >= click ts), same as ASOF's >=."""
    return _asof_purchases_with_last_click(spark, sf).select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        F.round(F.col("_lag_us") / 1000000.0 + 1e-9, 3).alias("lag_seconds"),
    )


def _asof_purchases_with_last_click(spark: SparkSession, sf: str) -> DataFrame:
    """Shared union-merge core of the as-of family (join_asof /
    join_asof_tolerance): every purchase row carried with the user's
    most recent at-or-before click and the raw lag in microseconds
    (``_lag_us``, NULL when the user has no prior click)."""
    ev = table(spark, sf, "events")
    wr = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        ev.where(F.col("event_type") == "click")
        .withColumn("_rn", F.row_number().over(wr))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("purchase_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = clicks.unionByName(purchases).select(
        "user_id",
        "ts",
        "side",
        "purchase_id",
        F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
        F.last("click_ts", ignorenulls=True).over(w).alias("click_ts"),
    )
    return merged.where(F.col("side") == 1).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "click_id",
        "click_ts",
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("_lag_us"),
    )


#: staleness bound for join_asof_tolerance: a click older than this is
#: treated as no match (pandas merge_asof ``tolerance=`` semantics).
#: 6 hours keeps both classes well-populated at every SF (measured:
#: ~11% of purchases match at sf0.001/0.01/0.1 — never trivially
#: all-matched or all-null at the driver's scale).
_ASOF_TOLERANCE_US = 21_600_000_000


def join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """AS-OF JOIN with a staleness tolerance — join_asof, but a click
    counts only if it happened within 6 hours before the purchase
    (pandas ``merge_asof(tolerance=...)`` / QuestDB ``ASOF JOIN
    TOLERANCE``). Stale matches are nulled, not dropped: every
    purchase row survives with NULL click columns, which is what an
    attribution consumer needs (unattributed revenue stays visible).

    Same single user_id shuffle and O(1) window state as join_asof —
    the tolerance is a post-merge column mask, so the scale shape is
    identical (no candidate-pair blowup; a range join expressing the
    same bound would materialize every click x purchase pair within
    6 h before filtering)."""
    p = _asof_purchases_with_last_click(spark, sf)
    ok = F.col("_lag_us") <= F.lit(_ASOF_TOLERANCE_US)
    return p.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.when(ok, F.col("click_id")).alias("click_id"),
        F.when(ok, F.col("click_ts")).alias("click_ts"),
        F.when(ok, F.round(F.col("_lag_us") / 1000000.0 + 1e-9, 3)).alias(
            "lag_seconds"
        ),
    )


#: shared r/l CTE block of the as-of family's oracles: deduped clicks
#: (max event_id per (user, ts), the tie-break join_asof documents)
#: and raw purchases. Shared TEXT so a tie-break change cannot drift
#: between the plain and the tolerance oracle.
_ASOF_CTES = """\
r AS (
  SELECT user_id, ts, event_id AS click_id FROM (
    SELECT user_id, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click') t
  WHERE rn = 1),
l AS (SELECT user_id, ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase')"""


_ASOF_SQL = f"""
WITH {_ASOF_CTES}
SELECT l.purchase_id, l.user_id, l.ts AS purchase_ts,
       r.click_id, r.ts AS click_ts,
       ROUND((epoch_us(l.ts) - epoch_us(r.ts)) / 1000000.0 + 1e-9, 3)
         AS lag_seconds
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


_ASOF_TOL_SQL = f"""
WITH {_ASOF_CTES},
a AS (
  SELECT l.purchase_id, l.user_id, l.ts AS purchase_ts,
         r.click_id, r.ts AS click_ts,
         epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts)
SELECT purchase_id, user_id, purchase_ts,
       CASE WHEN lag_us <= {_ASOF_TOLERANCE_US} THEN click_id END AS click_id,
       CASE WHEN lag_us <= {_ASOF_TOLERANCE_US} THEN click_ts END AS click_ts,
       CASE WHEN lag_us <= {_ASOF_TOLERANCE_US}
            THEN ROUND(lag_us / 1000000.0 + 1e-9, 3) END AS lag_seconds
FROM a
"""


def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Staged conversion funnel view → click → purchase: a user counts
    for a stage only if it happens strictly AFTER their entry into the
    previous stage (first-touch attribution). Three conditional-min
    aggregations, each conditioned on the previous stage's timestamp —
    the dependency forces three rounds, but every round is a map-side
    combinable groupBy on user_id and the later rounds aggregate the
    already-reduced per-user table, so the events table is scanned
    twice (stage-2 needs v, stage-3 needs c) and never joined to
    itself row×row."""
    ev = table(spark, sf, "events").select("user_id", "event_type", "ts")
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v_ts")
    )
    c = (
        ev.join(v, "user_id")
        .groupBy("user_id", "v_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")),
                    F.col("ts"),
                )
            ).alias("c_ts")
        )
    )
    p = (
        ev.join(c, "user_id")
        .groupBy("user_id", "v_ts", "c_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("c_ts")),
                    F.col("ts"),
                )
            ).alias("p_ts")
        )
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("v_ts").alias("n_viewed"),
        F.count("c_ts").alias("n_clicked_after_view"),
        F.count("p_ts").alias("n_purchased_after_click"),
    )


_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
  FROM events GROUP BY user_id),
c AS (
  SELECT e.user_id, v.v_ts,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > v.v_ts
                  THEN e.ts END) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  GROUP BY e.user_id, v.v_ts),
p AS (
  SELECT e.user_id, c.v_ts, c.c_ts,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > c.c_ts
                  THEN e.ts END) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  GROUP BY e.user_id, c.v_ts, c.c_ts)
SELECT COUNT(*) AS n_users,
       COUNT(v_ts) AS n_viewed,
       COUNT(c_ts) AS n_clicked_after_view,
       COUNT(p_ts) AS n_purchased_after_click
FROM p
"""


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_event_counts(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: per user-bucket event-type counts as columns. The pivot
    values are EXPLICIT (EVENT_TYPES) — without them Spark runs an
    extra collect-distinct job to discover the columns, and the output
    schema becomes data-dependent (a new event type would silently add
    a column and break every downstream consumer; with the list it
    just lands in no column, loudly countable elsewhere)."""
    ev = table(spark, sf, "events")
    return (
        ev.withColumn("user_bucket", (F.col("user_id") % 10).cast("int"))
        .groupBy("user_bucket")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
    )


_PIVOT_SQL = """
SELECT CAST(user_id % 10 AS INT) AS user_bucket,
       COUNT(*) FILTER (event_type = 'click')    AS click,
       COUNT(*) FILTER (event_type = 'error')    AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup')   AS signup,
       COUNT(*) FILTER (event_type = 'view')     AS view
FROM events
GROUP BY 1
"""


def unpivot_event_counts(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-bucket counts back to long
    (user_bucket, event_type, n) rows — schema-stable inverse of the
    pivot, via the native unpivot operator (stack), not a union of N
    selects. The oracle mirrors the EXPLICIT type list (an event type
    outside EVENT_TYPES melts out of the pivot, so it must be filtered
    out of the oracle too)."""
    wide = pivot_event_counts(spark, sf)
    return wide.unpivot(
        "user_bucket", list(EVENT_TYPES), "event_type", "n"
    ).where(F.col("n") > 0)


_UNPIVOT_SQL = """
SELECT CAST(user_id % 10 AS INT) AS user_bucket, event_type,
       COUNT(*) AS n
FROM events
WHERE event_type IN ({types})
GROUP BY 1, 2
""".format(types=", ".join(f"'{t}'" for t in EVENT_TYPES))


def agg_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT percentiles (linear interpolation) per event_type — the
    complement of the sketch-based approx_percentile in agg_approx.
    Spark `percentile` and DuckDB `quantile_cont` share the
    interpolated-quantile definition, so this is hash-checkable where
    the approx form is rows-only. Exact percentile shuffles all values
    per group (no sketch): right when groups are few and the answer
    must be exact; at 100 TB prefer agg_approx's sketches for
    high-cardinality groups."""
    ev = table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") + 1e-9, 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)") + 1e-9, 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)") + 1e-9, 4).alias("p99"),
    )


_PERCENTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5) + 1e-9, 4)  AS p50,
       ROUND(quantile_cont(value, 0.9) + 1e-9, 4)  AS p90,
       ROUND(quantile_cont(value, 0.99) + 1e-9, 4) AS p99
FROM events
GROUP BY event_type
"""


def events_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention — the product-analytics staple: users grouped
    by signup day (their first 'signup' event), with the share still
    active (any event) 1 and 7 days later. One aggregate for cohorts,
    one semi-join-shaped aggregate for activity — no per-day fan-out,
    scales as two linear shuffles on user_id."""
    ev = table(spark, sf, "events")
    cohort = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("cohort_day"))
    )
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    j = cohort.join(activity, "user_id")
    day_diff = F.datediff("day", "cohort_day")
    return j.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_size"),
        F.countDistinct(F.when(day_diff == 1, F.col("user_id"))).alias(
            "retained_d1"
        ),
        F.countDistinct(F.when(day_diff == 7, F.col("user_id"))).alias(
            "retained_d7"
        ),
    )


_RETENTION_SQL = """
WITH cohort AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT c.cohort_day,
       COUNT(DISTINCT c.user_id) AS cohort_size,
       COUNT(DISTINCT CASE WHEN a.day - c.cohort_day = 1
                           THEN c.user_id END) AS retained_d1,
       COUNT(DISTINCT CASE WHEN a.day - c.cohort_day = 7
                           THEN c.user_id END) AS retained_d7
FROM cohort c JOIN activity a ON c.user_id = a.user_id
GROUP BY c.cohort_day
"""


def window_ntile(spark: SparkSession, sf: str) -> DataFrame:
    """NTILE quantile bucketing per group: events split into value
    quartiles within each event_type, summarized per bucket. The
    deterministic tie-break (value, event_id) makes bucket membership
    — not just bucket sizes — engine-reproducible."""
    ev = table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.asc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


_NTILE_SQL = """
SELECT event_type, quartile, COUNT(*) AS n,
       ROUND(MIN(value), 2) AS lo, ROUND(MAX(value), 2) AS hi
FROM (SELECT event_type, value, event_id,
             NTILE(4) OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS quartile
      FROM events)
GROUP BY event_type, quartile
"""


def agg_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Correlation/covariance aggregates per event_type: Pearson corr
    and population covariance between event value and hour-of-day —
    textbook two-pass-free streaming moments, identical definitions in
    both engines."""
    ev = table(spark, sf, "events")
    hod = F.hour("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", hod) + 1e-9, 4).alias("corr_value_hour"),
        F.round(F.covar_pop("value", hod) + 1e-9, 4).alias("covar_pop"),
        F.round(F.covar_samp("value", hod) + 1e-9, 4).alias("covar_samp"),
    )


_CORR_SQL = """
SELECT event_type,
       ROUND(corr(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE)) + 1e-9, 4)
         AS corr_value_hour,
       ROUND(covar_pop(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE)) + 1e-9, 4)
         AS covar_pop,
       ROUND(covar_samp(value, CAST(EXTRACT(hour FROM ts) AS DOUBLE)) + 1e-9, 4)
         AS covar_samp
FROM events
GROUP BY event_type
"""


def window_time_range(spark: SparkSession, sf: str) -> DataFrame:
    """Time-interval RANGE frame at event granularity: per user, the
    trailing 1-hour count/average at every event (the rate-limiter /
    rolling-metric shape). Spark's rangeBetween is numeric-only, so
    the frame is keyed on epoch MICROS — semantically identical to
    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW, including
    peer rows (equal timestamps enter together, which ROWS can't
    express). Complements window_range_frame's day-granularity form."""
    ev = table(spark, sf, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.avg("value").over(w) + 1e-9, 4).alias("avg_1h"),
    )


_TIME_RANGE_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_1h,
       ROUND(AVG(value) OVER w + 1e-9, 4) AS avg_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def ts_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap-fill + forward-fill (the hypertable/timescale
    operator family): hourly per-user aggregates densified to a
    complete hour spine per user (sequence + explode between each
    user's own min/max hour), missing hours marked and value
    forward-filled (LOCF) from the last observed hour.

    Scale shape: one shuffle for the hourly pre-aggregate (map-side
    combined), a tiny per-user span frame, spine generation is
    explode-parallel, and LOCF is one bounded window per user — no
    cross-user global sort. The spine is bounded per user by its own
    span, so an idle user costs nothing (vs a global calendar cross
    join, which at 100 TB would dominate the real data)."""
    ev = table(spark, sf, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    spine = spans.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    filled = spine.join(hourly, ["user_id", "hour"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        "user_id",
        "hour",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_locf"),
        F.col("avg_value").isNull().alias("is_gap"),
    )


_GAPFILL_SQL = """
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hour,
         COUNT(*) AS n, ROUND(AVG(value) + 1e-9, 4) AS avg_value
  FROM events GROUP BY 1, 2),
spans AS (
  SELECT user_id, MIN(hour) AS lo, MAX(hour) AS hi FROM hourly GROUP BY 1),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour
  FROM spans),
f AS (
  SELECT s.user_id, s.hour, h.n, h.avg_value
  FROM spine s LEFT JOIN hourly h
    ON s.user_id = h.user_id AND s.hour = h.hour)
SELECT user_id, hour,
       COALESCE(n, 0) AS n_events,
       last_value(avg_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS avg_value_locf,
       avg_value IS NULL AS is_gap
FROM f
"""


def upsert_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    """CDC MERGE semantics on plain parquet — the pre-Delta/Iceberg
    snapshot-rewrite pattern: a deterministic change feed (updates:
    event_id % 97 == 0 get value+1; deletes: event_id % 89 == 1) is
    applied to the events base as anti-join (deletes) + left join with
    coalesce (updates), producing the next snapshot. Surface: per-type
    row/update/delete counts + value sum of the merged snapshot.

    Scale shape: one hash join each for deletes and updates on the
    key — exactly what a MERGE compiles to; at 100 TB the win over
    row-by-row mutation is that the rewrite is a linear scan-join, and
    partition-level pruning (see sink_parquet_partitioned) limits the
    rewrite to touched partitions."""
    base = table(spark, sf, "events")
    updates = (
        base.where(F.col("event_id") % 97 == 0)
        .select("event_id", (F.col("value") + 1.0).alias("new_value"))
    )
    deletes = base.where(F.col("event_id") % 89 == 1).select("event_id")
    merged = (
        base.join(deletes, "event_id", "left_anti")
        .join(updates, "event_id", "left")
        .withColumn("merged_value", F.coalesce("new_value", "value"))
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("new_value").alias("n_updated"),
        F.round(F.sum("merged_value"), 2).alias("sum_value"),
    )


_UPSERT_SQL = """
WITH upd AS (
  SELECT event_id, value + 1.0 AS new_value FROM events
  WHERE event_id % 97 = 0),
merged AS (
  SELECT e.event_type, COALESCE(u.new_value, e.value) AS merged_value,
         u.new_value
  FROM events e LEFT JOIN upd u ON e.event_id = u.event_id
  WHERE e.event_id % 89 <> 1)
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(new_value) AS n_updated,
       ROUND(SUM(merged_value), 2) AS sum_value
FROM merged
GROUP BY event_type
"""


def sink_parquet_partitioned(spark: SparkSession, sf: str) -> DataFrame:
    """Partitioned parquet sink + pruned read-back — the 100 TB fact
    layout in miniature: events written `partitionBy(event_date)`,
    sorted within partitions by ts (row-group locality for time-range
    scans), then read back with a partition-column predicate that must
    prune at the MANIFEST level (PartitionFilters, pinned in
    tests/test_plan_quality.py). The checkable surface is the per-day
    counts of the pruned read. The scratch dir is content-addressed by
    the source data vintage so regenerated testdata can't silently
    read back a stale write, and incomplete leftovers from an
    interrupted write are scrubbed first (util.prepare_scratch_dir) —
    mode('ignore') checks only path existence, not completion."""
    from ..util import assert_readback_complete, prepare_scratch_dir

    out_dir, reused = prepare_scratch_dir(
        "events_part", f"{sf}/events.parquet"
    )

    ev = table(spark, sf, "events").withColumn("event_date", F.to_date("ts"))
    (
        ev.repartition("event_date")
        .sortWithinPartitions("ts")
        .write.mode("ignore")
        .partitionBy("event_date")
        .parquet(out_dir)
    )
    back = spark.read.parquet(out_dir)
    if reused:
        assert_readback_complete(ev, back, "sink_parquet_partitioned")
    return (
        back.where(F.dayofmonth("event_date") <= 3)
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("event_date").cast("string").alias("event_date"),
            "n_events",
            "n_users",
        )
    )


_SINK_PART_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE EXTRACT(day FROM ts) <= 3
GROUP BY 1
"""


def src_orc_events(spark: SparkSession, sf: str) -> DataFrame:
    """ORC source/sink roundtrip — Spark's second built-in columnar
    format (the Hive-ecosystem interchange surface next to parquet):
    events written to ORC (snappy, Spark default), read back, and
    aggregated per (event_type, day). Hash-equality with the
    parquet-derived oracle certifies the WHOLE roundtrip — row
    fidelity, µs timestamp semantics through the ORC writer/reader,
    and double values bit-faithful (the counts and 2dp sums match the
    oracle that never saw ORC).

    Same scratch discipline as sink_parquet_partitioned: the dir is
    content-addressed by the source vintage (a regenerated testdata
    can't read back a stale write) and interrupted writes are
    scrubbed (util.prepare_scratch_dir)."""
    from ..util import assert_readback_complete, prepare_scratch_dir

    out_dir, reused = prepare_scratch_dir("events_orc", f"{sf}/events.parquet")
    ev = table(spark, sf, "events")
    ev.write.mode("ignore").orc(out_dir)
    back = spark.read.orc(out_dir)
    if reused:
        assert_readback_complete(ev, back, "src_orc_events")
    return (
        back.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value") + 1e-9, 2).alias("sum_value"),
        )
    )


_ORC_SQL = """
SELECT event_type, CAST(ts AS DATE) AS day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value) + 1e-9, 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def window_rolling_median(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-7-day EXACT median of per-(type, day) daily means —
    the rolling robust center (the windowed companion of
    agg_mad_outlier_days' global median): an exact-percentile
    aggregate over a calendar RANGE frame, the one window shape the
    avg/sum rolling family (agg_decayed_sum, window_time_range) does
    not cover.

    Frame semantics: RANGE BETWEEN 6 days PRECEDING AND CURRENT ROW
    over the DAILY series — missing days simply aren't in the frame
    (matching the oracle's INTERVAL frame), so the median is over
    observed days only. Spark's rangeBetween needs a numeric sort key:
    days since epoch (date_int), one-to-one with the date.

    Scale shape: events reduce to (type, day) FIRST (one hash
    aggregate); the window runs over day-count-bounded series per
    type. Daily means round at 6dp before the median (the cusum
    discipline); the median of 6dp-rounded values interpolates at
    midpoints, one more bit — round at 6dp again."""
    ev = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    d = ev.groupBy("event_type", "day").agg(
        F.round(F.avg("value") + 1e-9, 6).alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff("day", F.lit("1970-01-01")))
        .rangeBetween(-6, 0)
    )
    return d.select(
        "event_type",
        "day",
        F.col("x").alias("daily_mean"),
        F.round(F.percentile("x", 0.5).over(w) + 1e-9, 6).alias(
            "rolling_median_7d"
        ),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_days_in_frame"),
    )


_ROLLING_MEDIAN_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(AVG(value) + 1e-9, 6) AS x
  FROM events GROUP BY 1, 2)
SELECT event_type, day, x AS daily_mean,
       ROUND(quantile_cont(x, 0.5) OVER w + 1e-9, 6) AS rolling_median_7d,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_days_in_frame
FROM d
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
"""


def agg_linreg_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type OLS trend line over the daily-mean series — the
    statistics ANALYZE/forecasting readers fit first: slope and
    intercept via the regr_* aggregate family (shared by Spark and
    DuckDB), fit quality as r² = corr² (computed from corr, whose
    zero-variance → NULL contract matches across engines — the
    agg_corr precedent — where the engines' native regr_r2 edge cases
    do not). x = days since epoch, so the slope is per-day drift in
    the metric's units.

    One hash aggregate to (type, day), then one 1-row-per-type
    aggregate over the day-bounded series — never a window, never the
    raw events through the regression."""
    ev = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    d = ev.groupBy("event_type", "day").agg(
        F.round(F.avg("value") + 1e-9, 6).alias("x")
    )
    di = F.datediff("day", F.lit("1970-01-01")).cast("double")
    return (
        d.select("event_type", di.alias("t"), "x")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.regr_slope("x", "t") + 1e-9, 6).alias("slope_per_day"),
            F.round(F.regr_intercept("x", "t") + 1e-9, 4).alias("intercept"),
            F.round(F.pow(F.corr("x", "t"), 2) + 1e-9, 6).alias("r2"),
        )
    )


_LINREG_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(AVG(value) + 1e-9, 6) AS x
  FROM events GROUP BY 1, 2),
t AS (
  SELECT event_type,
         CAST(day - DATE '1970-01-01' AS DOUBLE) AS t, x
  FROM d)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(regr_slope(x, t) + 1e-9, 6)     AS slope_per_day,
       ROUND(regr_intercept(x, t) + 1e-9, 4) AS intercept,
       ROUND(POWER(corr(x, t), 2) + 1e-9, 6) AS r2
FROM t GROUP BY 1
"""


def events_cohort_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """The full cohort-retention MATRIX (long form) — events_retention
    generalized from two fixed horizons to every (cohort week × week
    offset) cell: users cohorted by the Monday of their first 'signup'
    event, each cell = how many were active (any event) in cohort
    week + offset, with the retention share. The product-analytics
    triangle chart, exactly.

    Scale shape: one aggregate for cohorts (min signup per user), one
    DISTINCT (user, week) activity frame, one join on user_id, one
    counting aggregate — identical to events_retention's two linear
    shuffles; the matrix fan-out happens at aggregation keys, not
    rows. Negative offsets (pre-signup activity) are excluded to keep
    the triangle shape; cohort_size repeats per row by construction
    (long form is the hash-friendly, skew-free encoding)."""
    ev = table(spark, sf, "events")
    cohort = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    j = cohort.join(activity, "user_id").withColumn(
        "week_offset",
        (F.datediff("week", "cohort_week") / 7).cast("int"),
    )
    size = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        j.where(F.col("week_offset") >= 0)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return cells.join(F.broadcast(size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "cohort_size",
        "n_active",
        F.round(
            F.col("n_active") / F.col("cohort_size").cast("double") + 1e-9, 4
        ).alias("share_active"),
    )


_COHORT_MATRIX_SQL = """
WITH cohort AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY 1),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events),
size_ AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM cohort GROUP BY 1),
cells AS (
  SELECT c.cohort_week,
         CAST((a.week - c.cohort_week) / 7 AS INT) AS week_offset,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
  FROM cohort c JOIN activity a USING (user_id)
  WHERE a.week >= c.cohort_week
  GROUP BY 1, 2)
SELECT cells.cohort_week, cells.week_offset, size_.cohort_size,
       cells.n_active,
       ROUND(cells.n_active / CAST(size_.cohort_size AS DOUBLE) + 1e-9, 4)
         AS share_active
FROM cells JOIN size_ USING (cohort_week)
"""


def events_power_users_pareto(spark: SparkSession, sf: str) -> DataFrame:
    """Activity-concentration readout — the Lorenz/Pareto question
    every platform asks of its fact table: how few users produce 80%
    of events, and the exact Gini coefficient of the activity
    distribution. One row: n_users, n_events, users_for_80pct, their
    share, gini.

    Scale shape: per-user counts are one hash aggregate; the rank and
    the running sum over the user-count frame (fact-table-scale at
    real data: billions of rows) go through `util.global_prefix` —
    the distributed range-shuffle rank idiom — TWICE (once
    value_col=None for the ascending rank i, once value_col=cnt for
    the running sum), never a one-partition global window. The 80%
    cut is exact integer arithmetic with NO overflowable multiply
    (prefix ≤ total DIV 5 ⟺ prefix·5 ≤ total for integers), reading
    the ``_total`` column global_prefix already attaches — no extra
    aggregate or broadcast. Gini uses the closed form over ranks:
    G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) with x ascending; the rank is
    cast to DECIMAL(38,0) BEFORE the i·x multiply (the r7 lesson in
    its sharpest form: at 2e9 users × 5e9-event whales the int64
    PRODUCT overflows before any sum does)."""
    from ..util import global_prefix

    c = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = global_prefix(c, ["cnt", "user_id"]).select(
        "user_id", "cnt", F.col("_prefix").alias("i")
    )
    summed = global_prefix(ranked, ["cnt", "user_id"], value_col="cnt")
    t = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("tot"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("cnt")
        ).alias("ix"),
    )
    j = summed.where(
        F.col("_prefix") <= F.expr("_total DIV 5")
    ).agg(F.count(F.lit(1)).alias("jmax"))
    return (
        t.crossJoin(F.broadcast(j))
        .select(
            F.col("n").cast("bigint").alias("n_users"),
            F.col("tot").cast("bigint").alias("n_events"),
            (F.col("n") - F.col("jmax")).cast("bigint").alias(
                "users_for_80pct"
            ),
            F.round(
                (F.col("n") - F.col("jmax")) / F.col("n").cast("double")
                + 1e-9,
                4,
            ).alias("share_users_80pct"),
            F.round(
                (
                    2.0 * F.col("ix").cast("double")
                    - (F.col("n") + 1).cast("double") * F.col("tot")
                )
                / (F.col("n").cast("double") * F.col("tot").cast("double"))
                + 1e-9,
                6,
            ).alias("gini"),
        )
    )


_PARETO_SQL = """
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
r AS (
  SELECT user_id, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt, user_id) AS BIGINT) AS i,
         CAST(SUM(cnt) OVER (ORDER BY cnt, user_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
  FROM c),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cnt) AS BIGINT) AS tot,
         CAST(SUM(CAST(i AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0)) AS ix
  FROM r),
j AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS jmax
  FROM r CROSS JOIN t WHERE r.pre <= t.tot // 5)
SELECT t.n AS n_users, t.tot AS n_events,
       t.n - j.jmax AS users_for_80pct,
       ROUND((t.n - j.jmax) / CAST(t.n AS DOUBLE) + 1e-9, 4)
         AS share_users_80pct,
       ROUND((2.0 * CAST(ix AS DOUBLE) - (t.n + 1) * CAST(t.tot AS DOUBLE))
             / (CAST(t.n AS DOUBLE) * t.tot) + 1e-9, 6) AS gini
FROM t CROSS JOIN j
"""


def ts_autocorr_lag(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-k autocorrelation of each type's daily-mean series (k = 1
    and 7) — the seasonality/persistence readout forecasting sits on:
    high lag-7 means weekly structure, high lag-1 means day-to-day
    momentum. Computed as corr(x_t, x_{t−k}) over DAY-KEYED self-joins
    of the daily series — gap-honest in the strict calendar sense:
    every (t, t−k) pair where BOTH days were observed contributes,
    regardless of holes in between. (A row-based lag(k) window would
    silently drop every pair whose intervening rows have gaps,
    biasing lag-7 toward dense stretches — caught in the r10 code
    review before fronting.)

    Scale shape: one hash aggregate to (type, day), two equi
    self-joins on (type, day−k) over the day-bounded series, one corr
    aggregate — events never flow through a window or join. Daily
    means round at 6dp first; corr of identical rounded inputs
    differs only by Σ-order noise against a 6dp readout."""
    ev = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    d = ev.groupBy("event_type", "day").agg(
        F.round(F.avg("value") + 1e-9, 6).alias("x")
    )
    lag1 = d.select(
        "event_type",
        F.date_add("day", 1).alias("day"),
        F.col("x").alias("x1"),
    )
    lag7 = d.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("x").alias("x7"),
    )
    lagged = d.join(lag1, ["event_type", "day"], "left").join(
        lag7, ["event_type", "day"], "left"
    )
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.corr("x", "x1") + 1e-9, 6).alias("autocorr_lag1"),
        F.round(F.corr("x", "x7") + 1e-9, 6).alias("autocorr_lag7"),
    )


_AUTOCORR_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(AVG(value) + 1e-9, 6) AS x
  FROM events GROUP BY 1, 2),
l AS (
  SELECT d.event_type, d.x, l1.x AS x1, l7.x AS x7
  FROM d
  LEFT JOIN d l1 ON l1.event_type = d.event_type
                AND l1.day = d.day - 1
  LEFT JOIN d l7 ON l7.event_type = d.event_type
                AND l7.day = d.day - 7)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(corr(x, x1) + 1e-9, 6) AS autocorr_lag1,
       ROUND(corr(x, x7) + 1e-9, 6) AS autocorr_lag7
FROM l GROUP BY 1
"""


def ts_seasonal_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Classical additive seasonal decomposition of each type's
    daily-mean series (Hyndman & Athanasopoulos §3.4, the
    moving-average method under statsmodels' seasonal_decompose):
    trend = CENTERED 7-day moving average, seasonal = day-of-week
    means of the detrended series re-centered to sum ~0, remainder =
    detrended − seasonal. Output: the per-(type, dow) seasonal
    profile (the weekly fingerprint a forecaster subtracts first)
    plus Hyndman's seasonal-strength F_s = max(0, 1 −
    Var(remainder)/Var(detrended)) per type, repeated across the
    type's 7 rows. Completes the ts_ family: autocorr says WHETHER
    weekly structure exists, this says WHAT it is.

    Gap honesty (the ts_autocorr_lag r10 lesson, calendar not rows):
    the trend window is a calendar RANGE frame over days-since-epoch
    (the window_rolling_median recipe) and the trend is NULL unless
    ALL 7 calendar days are present — a row-based frame would slide
    over holes and average 7 rows spanning >7 days. Rounding: each
    derived quantity (x, trend, detrended, seasonal means, strength)
    rounds at 6dp with the +1e-9 nudge in BOTH engines before the
    next stage consumes it, so only Σ-order noise differs (~1e-15
    against a 6dp readout). Day-of-week: Spark dayofweek() is
    1=Sunday..7, DuckDB dayofweek() is 0=Sunday..6 — Spark emits
    dayofweek−1 so both read 0=Sunday.

    Margin audit (r10 process rule): counts bounded by days (int);
    var_pop of 6dp-bounded values cannot overflow double; the
    strength division NULLIFs a zero detrended variance, and the
    NULL ratio is COALESCEd to 0.0 explicitly (constant detrended
    series → strength 0.0 — ADVICE r11: the earlier docstring said
    NULL, and the old code leaned on GREATEST's null-skipping to
    land on 0.0, a semantic some older DuckDB releases differed on;
    now both engines spell the fallback out).

    Scale shape: one hash aggregate to (type, day); the trend window
    partitions by type over the day-bounded series (hundreds of rows
    per type, never event-scale); two more small aggregates and two
    broadcast-sized joins back. Events never flow through a window."""
    from ..util import persist_tracked  # module convention: local import

    d = (
        table(spark, sf, "events")
        .select("event_type", F.to_date("ts").alias("day"), "value")
        .groupBy("event_type", "day")
        .agg(F.round(F.avg("value") + 1e-9, 6).alias("x"))
        .withColumn("epoch_day", F.datediff("day", F.lit("1970-01-01")))
        .withColumn("dow", (F.dayofweek("day") - 1).cast("int"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("epoch_day")
        .rangeBetween(-3, 3)
    )
    dd = d.withColumn(
        "trend",
        F.when(
            F.count("x").over(w) == 7,
            F.round(F.avg("x").over(w) + 1e-9, 6),
        ),
    ).withColumn(
        "det",
        F.when(
            F.col("trend").isNotNull(),
            F.round(F.col("x") - F.col("trend") + 1e-9, 6),
        ),
    )
    dd = persist_tracked(dd)
    s_raw = (
        dd.where(F.col("det").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            F.round(F.avg("det") + 1e-9, 6).alias("s_raw"),
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        )
    )
    s_mean = s_raw.groupBy("event_type").agg(
        F.round(F.avg("s_raw") + 1e-9, 6).alias("s_mean")
    )
    seas = persist_tracked(
        s_raw.join(F.broadcast(s_mean), "event_type").select(
            "event_type",
            "dow",
            "n_obs",
            F.round(F.col("s_raw") - F.col("s_mean") + 1e-9, 6).alias(
                "seasonal"
            ),
        )
    )
    rem = (
        dd.where(F.col("det").isNotNull())
        .join(seas.select("event_type", "dow", "seasonal"), ["event_type", "dow"])
        .withColumn(
            "r", F.round(F.col("det") - F.col("seasonal") + 1e-9, 6)
        )
    )
    strength = rem.groupBy("event_type").agg(
        F.round(
            F.greatest(
                F.lit(0.0),
                F.coalesce(
                    1
                    - F.var_pop("r")
                    / F.nullif(F.var_pop("det"), F.lit(0.0)),
                    F.lit(0.0),
                ),
            )
            + 1e-9,
            6,
        ).alias("strength_seasonal")
    )
    return seas.join(F.broadcast(strength), "event_type").select(
        "event_type", "dow", "seasonal", "n_obs", "strength_seasonal"
    )


_SEASONAL_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(AVG(value) + 1e-9, 6) AS x,
         dayofweek(CAST(ts AS DATE)) AS dow
  FROM events GROUP BY 1, 2, 4),
t AS (
  SELECT event_type, day, x, dow,
         CASE WHEN COUNT(x) OVER w = 7
              THEN ROUND(AVG(x) OVER w + 1e-9, 6) END AS trend
  FROM d
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN INTERVAL 3 DAYS PRECEDING
                         AND INTERVAL 3 DAYS FOLLOWING)),
dd AS (
  SELECT event_type, day, dow,
         ROUND(x - trend + 1e-9, 6) AS det
  FROM t WHERE trend IS NOT NULL),
s_raw AS (
  SELECT event_type, dow,
         ROUND(AVG(det) + 1e-9, 6) AS s_raw,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM dd GROUP BY 1, 2),
s_mean AS (
  SELECT event_type, ROUND(AVG(s_raw) + 1e-9, 6) AS s_mean
  FROM s_raw GROUP BY 1),
seas AS (
  SELECT r.event_type, r.dow, r.n_obs,
         ROUND(r.s_raw - m.s_mean + 1e-9, 6) AS seasonal
  FROM s_raw r JOIN s_mean m USING (event_type)),
rem AS (
  SELECT dd.event_type,
         ROUND(dd.det - seas.seasonal + 1e-9, 6) AS r, dd.det
  FROM dd JOIN seas ON seas.event_type = dd.event_type
                   AND seas.dow = dd.dow),
st AS (
  SELECT event_type,
         ROUND(GREATEST(0.0, COALESCE(
               1 - var_pop(r) / NULLIF(var_pop(det), 0.0), 0.0))
               + 1e-9, 6)
           AS strength_seasonal
  FROM rem GROUP BY 1)
SELECT seas.event_type, seas.dow, seas.seasonal, seas.n_obs,
       st.strength_seasonal
FROM seas JOIN st USING (event_type)
"""


_RANGE_BIN_S = 600  # 10-min grid; interval durations are < _RANGE_BIN_S


def join_range_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-containment join WITHOUT an equi key — the classic
    range-join gap in Spark (a raw `p.ts BETWEEN i.t0 AND i.t1` join
    plans as BroadcastNestedLoopJoin: O(n·m) and a driver-sized
    broadcast). Binned rewrite: explode each interval onto the fixed
    10-minute grid cells it overlaps, map each point to its single
    cell, equi-join on the cell with the range predicate as a
    secondary condition, aggregate per interval. Each point has
    exactly one cell, so no post-join dedup; interval durations are
    bounded below the bin width (duration = floor(value) s < 600 s),
    so the explode factor is at most 2. At 100 TB this is one shuffle
    on the bin key with partial aggregation — the same plan shape a
    dedicated range-join optimizer (e.g. Databricks' bin join) emits.

    Intervals: 'signup' events open a window [ts, ts + floor(value)
    seconds]; points: 'error' events. Per interval: how many errors
    landed inside, and their value sum (left join keeps zero-hit
    intervals)."""
    ev = table(spark, sf, "events")
    iv = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("t0"),
        F.timestamp_add(
            "SECOND", F.floor("value").cast("int"), F.col("ts")
        ).alias("t1"),
    )
    # explode_OUTER: a NULL value/ts makes the bin sequence NULL, and
    # plain explode would drop the interval entirely — the oracle's
    # LEFT JOIN keeps it with n_hits=0 (NULL bounds match no point),
    # so the Spark side must too (null bin joins nothing, left join
    # preserves the row)
    ivb = iv.withColumn(
        "bin",
        F.explode_outer(
            F.sequence(
                F.floor(F.unix_timestamp("t0") / _RANGE_BIN_S),
                F.floor(F.unix_timestamp("t1") / _RANGE_BIN_S),
            )
        ),
    )
    pts = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
        F.floor(F.unix_timestamp("ts") / _RANGE_BIN_S).alias("bin"),
    )
    joined = ivb.join(
        pts,
        (ivb["bin"] == pts["bin"])
        & pts["p_ts"].between(ivb["t0"], ivb["t1"]),
        "left",
    )
    return joined.groupBy("interval_id").agg(
        F.count("p_id").alias("n_hits"),
        F.round(F.coalesce(F.sum("p_value"), F.lit(0.0)) + 1e-9, 2).alias(
            "sum_hit_value"
        ),
    )


_RANGE_INTERVAL_SQL = """
SELECT i.interval_id,
       COUNT(p.event_id) AS n_hits,
       ROUND(COALESCE(SUM(p.value), 0) + 1e-9, 2) AS sum_hit_value
FROM (SELECT event_id AS interval_id, ts AS t0,
             ts + to_seconds(CAST(FLOOR(value) AS BIGINT)) AS t1
      FROM events WHERE event_type = 'signup') i
LEFT JOIN (SELECT event_id, ts, value FROM events
           WHERE event_type = 'error') p
  ON p.ts >= i.t0 AND p.ts <= i.t1
GROUP BY 1
"""


def agg_sketch_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark 3.5+ builtins) — the 100 TB cardinality primitive: per-day
    sketches are tiny (≤ 2^12 registers), persistable, and UNION-able
    across any partitioning of the data, so rollups never rescan the
    fact table. Surface: per event_type, the direct sketch estimate,
    the estimate from unioning per-day sketches (must agree within the
    union error bound — bit-equality holds only in sparse mode,
    asserted in tests), and the exact count for error bounding. Rows-only at the
    driver: DuckDB's approx_count_distinct is a different HLL
    implementation, so estimates are not cross-engine comparable."""
    return _hll_frames(spark, sf).select(
        "event_type", "direct_est", "merged_est", "exact_distinct"
    )


def _hll_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Shared sketch construction for agg_sketch_hll (rows-only
    surface) and agg_hll_vs_exact (hash-checked error bound): per-day
    HLL sketches union-merged vs the direct sketch vs the exact
    count, one frame — so a precision/bucketing change cannot make
    the two surfaces assert different sketches (r7 review finding).
    Columns: event_type, direct_est, merged_est, exact_distinct."""
    ev = table(spark, sf, "events")
    per_day = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_day.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "direct_est"
        ),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return direct.join(merged, "event_type")


def agg_hll_vs_exact(spark: SparkSession, sf: str) -> DataFrame:
    """HLL sketch error bound asserted against LIVE data, hash-checked
    (VERDICT r6 item 7): per event_type, the exact distinct-user count
    plus two booleans the oracle pins to TRUE — the direct sketch
    estimate lands within 5% of exact, and the per-day-merged estimate
    ALSO lands within 5% of exact. Merged == direct bit-equality holds
    only in sparse mode; dense-mode union was observed to diverge by a
    few counts at sf0.1 (r7), so the implemented invariant is the
    error bound, not equality. DataSketches HLL is deterministic
    (fixed hash, no
    seed), so the booleans are stable; if a Spark upgrade or a data
    regeneration ever pushes the sketch outside its bound, the driver
    hash goes red instead of a unit test silently aging. The estimates
    themselves stay out of the surface — they are engine-specific
    (that's agg_sketch_hll's rows-only row)."""
    return _hll_frames(spark, sf).select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("direct_est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
        (
            F.abs(F.col("merged_est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("merged_within_5pct"),
    )


_HLL_VS_EXACT_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_distinct,
       TRUE AS within_5pct,
       TRUE AS merged_within_5pct
FROM events
GROUP BY 1
"""


_JOIN_SALTS = 16
_TYPE_WEIGHTS = {
    "click": 1.0,
    "view": 0.5,
    "purchase": 5.0,
    "signup": 3.0,
    "error": 0.0,
}


def join_salted_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Salted replication JOIN — the skewed-JOIN recipe that completes
    the skew toolkit (agg_salted_skew covers aggregation; AQE's
    skew-join split only rebalances partitions it can subdivide, and
    does nothing when the join KEY itself has 5 values): the fact side
    salts each row with a deterministic xxhash64-derived salt in
    [0, 16); the dim side explodes 16 replicas; joining on
    (key, salt) spreads every hot key over 16 reduce tasks instead of
    funneling the whole fact through 5. The shuffle_hash hint keeps
    the demo honest — a 5-row dim would otherwise broadcast and make
    the salt moot, but at real scale the dim is the few-GB table that
    exceeds the broadcast threshold. Replication cost = |dim| × 16
    rows, negligible by construction. The oracle is the plain
    equi-join: salting must be answer-invariant."""
    ev = table(spark, sf, "events")
    dim = spark.createDataFrame(
        sorted(_TYPE_WEIGHTS.items()), "event_type string, weight double"
    )
    rep = dim.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(_JOIN_SALTS)])),
    )
    salted = ev.withColumn(
        "_salt",
        F.pmod(F.xxhash64("event_id"), F.lit(_JOIN_SALTS)).cast("int"),
    )
    j = salted.join(rep.hint("shuffle_hash"), ["event_type", "_salt"])
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("weight")) + 1e-9, 2).alias(
            "weighted_value"
        ),
    )


_JOIN_SALTED_SQL = """
WITH dim(event_type, weight) AS (
  VALUES ('click', 1.0), ('error', 0.0), ('purchase', 5.0),
         ('signup', 3.0), ('view', 0.5))
SELECT e.event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value * d.weight) + 1e-9, 2) AS weighted_value
FROM events e
JOIN dim d ON e.event_type = d.event_type
GROUP BY 1
"""


def agg_quantile_vs_exact(spark: SparkSession, sf: str) -> DataFrame:
    """approx_percentile's rank-error bound asserted against LIVE
    data, hash-checked (the quantile companion of agg_hll_vs_exact):
    per event_type, the exact interpolated p50/p90 plus two booleans
    the oracle pins TRUE — the KLL/GK-style sketch estimate at
    accuracy=10000 (rank error ≤ 1e-4) must land between the exact
    0.49/0.51 and 0.89/0.91 quantiles (a ±0.01 rank margin, 100× the
    guarantee). approx_percentile returns an actual data element and
    is deterministic for a given input, so the booleans are stable;
    a Spark upgrade or data regeneration that pushed the sketch out
    of bound flips the driver hash red instead of aging silently."""
    ev = table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") + 1e-9, 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)") + 1e-9, 4).alias("p90"),
        F.expr(
            "approx_percentile(value, 0.5, 10000) "
            "BETWEEN percentile(value, 0.49) AND percentile(value, 0.51)"
        ).alias("p50_within_bound"),
        F.expr(
            "approx_percentile(value, 0.9, 10000) "
            "BETWEEN percentile(value, 0.89) AND percentile(value, 0.91)"
        ).alias("p90_within_bound"),
    )


_QUANTILE_VS_EXACT_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5) + 1e-9, 4) AS p50,
       ROUND(quantile_cont(value, 0.9) + 1e-9, 4) AS p90,
       TRUE AS p50_within_bound,
       TRUE AS p90_within_bound
FROM events
GROUP BY event_type
"""


def ts_asof_interp(spark: SparkSession, sf: str) -> DataFrame:
    """AS-OF with LINEAR INTERPOLATION — the timeseries-engine staple
    (Timescale interpolate / QuestDB FILL(LINEAR)) that join_asof's
    last-value-carry cannot express: each purchase gets the user's
    click value linearly interpolated between the surrounding clicks
    at the purchase's event time; edge purchases (no click on one
    side) fall back to the available neighbor. Same union-merge shape
    as join_asof — tag sides, ONE window per user ordered (ts, side,
    id), last(…, ignoreNulls) backward for the previous click and
    first(…, ignoreNulls) forward for the next — so the cost stays
    one shuffle + O(n log n) per user, never a click×purchase range
    join. Weights use microsecond-exact unix_micros arithmetic; the
    interpolated value is rounded on both sides."""
    ev = table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        F.col("event_id").alias("eid"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("value").alias("cv"),
        F.unix_micros("ts").alias("cus"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.col("event_id").alias("eid"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("double").alias("cv"),
        F.lit(None).cast("long").alias("cus"),
    )
    u = clicks.unionByName(purchases)
    back = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("side"), F.asc("eid"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("side"), F.asc("eid"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    marked = u.select(
        "user_id",
        "ts",
        "side",
        "purchase_id",
        F.last("cv", ignorenulls=True).over(back).alias("pv"),
        F.last("cus", ignorenulls=True).over(back).alias("pus"),
        F.first("cv", ignorenulls=True).over(fwd).alias("nv"),
        F.first("cus", ignorenulls=True).over(fwd).alias("nus"),
    ).where(F.col("side") == 1)
    us = F.unix_micros("ts")
    interp = F.when(
        F.col("pus").isNull(), F.col("nv")
    ).when(
        F.col("nus").isNull() | (F.col("nus") == F.col("pus")), F.col("pv")
    ).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (us - F.col("pus"))
        / (F.col("nus") - F.col("pus"))
    )
    return marked.select(
        "user_id",
        "purchase_id",
        F.col("ts").alias("purchase_ts"),
        F.round(interp + 1e-9, 4).alias("interp_click_value"),
    )


_ASOF_INTERP_SQL = """
WITH u AS (
  SELECT user_id, ts, 0 AS side, event_id AS eid,
         CAST(NULL AS BIGINT) AS purchase_id,
         value AS cv, epoch_us(ts) AS cus
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 1 AS side, event_id AS eid,
         event_id AS purchase_id,
         NULL AS cv, CAST(NULL AS BIGINT) AS cus
  FROM events WHERE event_type = 'purchase'),
marked AS (
  SELECT user_id, ts, side, purchase_id,
         LAST_VALUE(cv IGNORE NULLS) OVER w_back AS pv,
         LAST_VALUE(cus IGNORE NULLS) OVER w_back AS pus,
         FIRST_VALUE(cv IGNORE NULLS) OVER w_fwd AS nv,
         FIRST_VALUE(cus IGNORE NULLS) OVER w_fwd AS nus
  FROM u
  WINDOW
    w_back AS (PARTITION BY user_id ORDER BY ts, side, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_fwd AS (PARTITION BY user_id ORDER BY ts, side, eid
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, purchase_id, ts AS purchase_ts,
       ROUND(CASE WHEN pus IS NULL THEN nv
                  WHEN nus IS NULL OR nus = pus THEN pv
                  ELSE pv + (nv - pv) * (epoch_us(ts) - pus)
                            / (nus - pus)
             END + 1e-9, 4) AS interp_click_value
FROM marked WHERE side = 1
"""


def events_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior — the
    sequence-analytics rollup (what follows what, with row-normalized
    probabilities): per user, consecutive event-type pairs via one
    lag window, then a count + a per-previous-type normalizing window
    over the 25-row pair matrix. Shuffle cost = one window on user_id
    + one 5×5 aggregate; the probability divides ROUNDED-stable
    integer counts, so the surface is engine-exact."""
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm) + 1e-9, 4).alias("prob"),
    )


_MARKOV_SQL = """
WITH pairs AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
c AS (
  SELECT prev_type, next_type, COUNT(*) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY 1, 2)
SELECT prev_type, next_type, n,
       ROUND(n / SUM(n) OVER (PARTITION BY prev_type) + 1e-9, 4) AS prob
FROM c
"""


_DECAY_TAU_S = 86400.0  # 1-day e-folding


def agg_decayed_sum(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially time-decayed aggregate — the feature-store
    staple (recency-weighted activity score): per user,
    Σ value·exp(−Δt/τ) with τ = 1 day, Δt measured from the corpus
    max event time — a 1-row broadcast, so the decay is a narrow map
    with no per-user second SHUFFLE. The fact is scanned twice (once
    for the max, once decayed) but the max scan prunes to the ts
    column; a single-scan form would need a cached materialization
    that costs more than the pruned re-read. Rounded to
    2 decimals: exp() can differ in the last ulp across libm
    implementations, and the sum is accumulation-order-dependent;
    both vanish under the house rounding."""
    ev = table(spark, sf, "events")
    tmax = ev.agg(F.max(F.unix_micros("ts")).alias("_tmax"))
    decayed = ev.crossJoin(F.broadcast(tmax)).select(
        "user_id",
        (
            F.col("value")
            * F.exp(
                -(F.col("_tmax") - F.unix_micros("ts"))
                / F.lit(_DECAY_TAU_S * 1e6)
            )
        ).alias("dv"),
    )
    return decayed.groupBy("user_id").agg(
        F.round(F.sum("dv") + 1e-9, 2).alias("decayed_sum"),
        F.count(F.lit(1)).alias("n_events"),
    )


_DECAYED_SUM_SQL = """
WITH t AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events)
SELECT user_id,
       ROUND(SUM(value * exp(-(tmax - epoch_us(ts)) / 86400000000.0))
             + 1e-9, 2) AS decayed_sum,
       COUNT(*) AS n_events
FROM events, t
GROUP BY user_id
"""


def window_percent_rank(spark: SparkSession, sf: str) -> DataFrame:
    """percent_rank + cume_dist coverage (the remaining SQL window
    rank functions after rank/dense_rank/ntile/row_number): each
    event's value position within its event_type. Both functions are
    tie-deterministic by definition (equal values share a rank), so
    the surface needs no artificial tiebreak; fractions are rounded
    identically on both sides."""
    ev = table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_type",
        "event_id",
        F.round(F.percent_rank().over(w) + 1e-9, 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w) + 1e-9, 6).alias("cume"),
    )


_PERCENT_RANK_SQL = """
SELECT event_type, event_id,
       ROUND(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value)
             + 1e-9, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER (PARTITION BY event_type ORDER BY value)
             + 1e-9, 6) AS cume
FROM events
"""


def _scd2_dim(spark: SparkSession, sf: str) -> DataFrame:
    """The SCD2 validity-interval dimension from signup events —
    shared by scd2_user_history (surfaces it) and
    join_scd2_pointintime (joins facts against it)."""
    ev = (
        table(spark, sf, "events")
        .where(F.col("event_type") == "signup")
        .select("user_id", "event_id", "ts", "value")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def scd2_user_history(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 from an event stream — the
    dimension-maintenance staple every warehouse pipeline needs: each
    user's 'signup' events become validity intervals (valid_from =
    event time, valid_to = the NEXT change's time, NULL while
    current) with an is_current flag. One window shuffle on user_id;
    the event_id tiebreak makes interval edges deterministic under
    equal timestamps. At scale this is the standard lead()-window
    formulation — no self-join, no per-user collect."""
    return _scd2_dim(spark, sf)


_SCD2_SQL = """
SELECT user_id,
       value AS attr_value,
       ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           AS is_current
FROM events
WHERE event_type = 'signup'
"""


def agg_mode_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-group MODE: each user's most frequent event
    type, ties broken by the lexicographically smallest type (native
    `mode()` is tie-nondeterministic in both engines, so the operator
    is the count + bounded-window form — reproducible anywhere).
    Scale: one shuffle for the (user, type) count, then a 5-row-max
    per-user window — WindowGroupLimit prunes map-side."""
    ev = table(spark, sf, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("mode_count"),
        )
    )


_MODE_SQL = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
r AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rk
  FROM c)
SELECT user_id, event_type AS mode_event_type, n AS mode_count
FROM r WHERE rk = 1
"""


_SKEW_SALTS = 16


def agg_salted_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation — the skewed-key recipe: 5 event
    types over the whole fact table means 5 reduce keys, so at 1000
    executors a plain groupBy funnels everything through 5 tasks.
    Salting by a deterministic hash of the row key fans phase 1 out to
    5×16 tasks (each partially aggregated map-side), and phase 2
    reduces 16 tiny rows per type. Same answer, no hot task — the
    manual form of what AQE's skew mitigation cannot do for
    aggregations (it only splits skewed JOIN partitions). The salt is
    xxhash64-derived (not rand()) so reruns are identical."""
    ev = table(spark, sf, "events")
    salted = ev.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(_SKEW_SALTS))
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_sum")
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n_events"),
        F.round(F.sum("_sum") + 1e-9, 2).alias("sum_value"),
        F.round(F.sum("_sum") / F.sum("_n") + 1e-9, 4).alias("avg_value"),
    )


_SALTED_SKEW_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value) + 1e-9, 2) AS sum_value,
       ROUND(SUM(value) / COUNT(*) + 1e-9, 4) AS avg_value
FROM events
GROUP BY event_type
"""


def events_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top user paths — the product-analytics sequence rollup: events
    sessionized (15-min gap, same boundary as events_session), each
    session rendered as its ordered event-type string ('view>click>
    purchase'), top 20 paths by frequency with a total-order
    tiebreak (count desc, path asc) so the limit is deterministic.

    Scale shape: one shuffle for the sessionization window, one for
    the session rollup, one for the path count; collect_list is
    per-session (bounded by session length), sorted via
    sort_array(struct(ts, event_id)) because collect_list order is
    otherwise nondeterministic (NOTES trap). The final top-20 is a
    TakeOrdered, not a global sort."""
    ev = table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # microsecond-exact gap compare: cast("long") truncates to whole
    # seconds and disagrees with the oracle's INTERVAL compare on
    # sub-second boundaries
    new_sess = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
            >= 900 * 1_000_000
        ),
        1,
    ).otherwise(0)
    sess = ev.withColumn(
        "sess_id", F.sum(new_sess).over(w)
    )
    paths = sess.groupBy("user_id", "sess_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda e: e["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


_TOP_PATHS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   >= INTERVAL '15 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged),
paths AS (
  SELECT user_id, sess_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY 1, 2)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 20
"""


def agg_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width value histogram (width 50) per event type — the
    profiling complement of agg_percentiles: one shuffle with
    map-side partial aggregation; bucket arithmetic is exact integer
    floor so engines agree without rounding."""
    ev = table(spark, sf, "events")
    bucket = F.floor(F.col("value") / 50).cast("long")
    return ev.groupBy(
        "event_type", bucket.alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value") + 1e-9, 4).alias("avg_value"),
    )


_VALUE_HIST_SQL = """
SELECT event_type,
       CAST(FLOOR(value / 50) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       ROUND(AVG(value) + 1e-9, 4) AS avg_value
FROM events
GROUP BY 1, 2
"""


def ts_resample_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly OHLC downsample per event type — the timeseries
    resampling op (gapfill's complement: many→one instead of
    filling): open/close are the first/last value in the bucket under
    the TOTAL order (ts, event_id) — the explicit tiebreak makes both
    engines pick the same row when timestamps collide. One shuffle
    for the rank windows (WindowGroupLimit prunes map-side), the
    high/low/count ride the same aggregate."""
    ev = table(spark, sf, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    wa = Window.partitionBy("event_type", bucket).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("event_type", bucket).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        bucket.alias("bucket"),
        "value",
        F.row_number().over(wa).alias("_ra"),
        F.row_number().over(wd).alias("_rd"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("_ra") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("_rd") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


_OHLC_SQL = """
WITH r AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts ASC, event_id ASC) AS ra,
         ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM events)
SELECT event_type, bucket,
       MAX(CASE WHEN ra = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rd = 1 THEN value END) AS close,
       COUNT(*) AS n_events
FROM r
GROUP BY 1, 2
"""


def events_anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-window anomaly flags: each event's z-score against
    its event-type stream's trailing 1-hour value distribution
    (population stddev, window includes the current row). Keyed by
    event_type, not user: per-user windows hold n ≤ 2 events at test
    density, and with n = 2 the population z-score is ±1 by identity
    — the flag could NEVER fire (the trivially-empty-result trap,
    same as mm_dedup_binary's first draft). Zero-variance windows
    yield a NULL z (explicit NULLIF guard — bare division gives
    NaN/Inf with engine-specific canonicalization). Emits only the
    flagged rows (|z| > 2): at 100 TB the output is the anomaly set,
    not a per-event rewrite. One shuffle on event_type (5 keys —
    exactly the skew agg_salted_skew handles; windows need the full
    per-key order, so salting doesn't apply and AQE cannot split a
    window partition: the documented scale limit of trailing-window
    ops on low-cardinality keys)."""
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    mean = F.avg("value").over(w)
    std = F.stddev_pop("value").over(w)
    z = F.when(std != 0, (F.col("value") - mean) / std)
    scored = ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(z + 1e-9, 4).alias("zscore"),
    )
    return scored.where(F.abs(F.col("zscore")) > 2)


_ANOMALY_SQL = """
WITH s AS (
  SELECT event_id, user_id, value,
         AVG(value) OVER w AS m,
         STDDEV_POP(value) OVER w AS sd
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, value,
       ROUND((value - m) / NULLIF(sd, 0) + 1e-9, 4) AS zscore
FROM s
WHERE ABS(ROUND((value - m) / NULLIF(sd, 0) + 1e-9, 4)) > 2
"""


def events_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-active-day streaks —
    the engagement metric every product-analytics stack computes
    (reference has no sequence analytics; this is driver-mandated
    event-table surface). Island id = active_day − row_number days
    (the classic trick: consecutive days share a constant anchor
    date), so streak detection is ONE window over (user, day) — no
    self-join, no recursion. Two hash aggregates around it
    (distinct days; per-island length) are both map-side combinable;
    the only shuffle key is user_id, which is exactly how a 100 TB
    events table would already be bucketed. Output is one row per
    user: total active days, number of streaks, longest streak, and
    the longest streak's most recent start day (deterministic
    tiebreak: max start among max-length islands)."""
    ev = table(spark, sf, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = (
        days.withColumn(
            "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
        )
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("len"), F.min("d").alias("start"))
    )
    return islands.groupBy("user_id").agg(
        F.sum("len").alias("active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.max(F.struct(F.col("len"), F.col("start")))["start"].alias(
            "longest_streak_start"
        ),
    )


_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
islands AS (
  SELECT user_id, anchor, COUNT(*) AS len, MIN(d) AS start
  FROM (SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY d) AS INT) AS anchor
        FROM days) x
  GROUP BY 1, 2)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS active_days,
       COUNT(*) AS n_streaks,
       MAX(len) AS longest_streak,
       MAX(struct_pack(len := len, start := start)).start
         AS longest_streak_start
FROM islands
GROUP BY user_id
"""


def events_cumulative_uniques(spark: SparkSession, sf: str) -> DataFrame:
    """Daily active users + new users + cumulative distinct users —
    the growth-accounting rollup. The cumulative distinct is NOT a
    running COUNT(DISTINCT) (which would hold per-day state sets):
    each user collapses to their first-seen day first, so the
    cumulative curve is a plain running SUM over ≤ one row per day —
    the first-seen reduction is the only pass over the fact table
    that carries user ids, and it is map-side combinable on
    user_id. The final running sum runs over the per-day frame
    (rows = distinct days), a single-partition window over a
    vanishingly small aggregate — not the fact table."""
    ev = table(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    new_users = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(new_users, "d", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
        .withColumn("cum_users", F.sum("new_users").over(w))
        .select("d", "dau", "n_events", "new_users", "cum_users")
    )


_CUMULATIVE_UNIQUES_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         COUNT(DISTINCT user_id) AS dau,
         COUNT(*) AS n_events
  FROM events GROUP BY 1),
fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY 1),
nu AS (SELECT d, COUNT(*) AS new_users FROM fs GROUP BY 1)
SELECT daily.d, dau, n_events,
       COALESCE(new_users, 0) AS new_users,
       CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY daily.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily LEFT JOIN nu ON daily.d = nu.d
"""


def events_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch conversion attribution — for every purchase, credit
    the user's most recent PRIOR non-purchase event (else 'direct'),
    then roll up conversions and revenue per attributed channel. One
    IGNORE-NULLS last_value window over (user, time) does the whole
    lookback — no self-join, no per-conversion scan — followed by a
    5-row aggregate. The window's shuffle key is user_id (the natural
    events bucketing); ties in ts break on event_id so the attributed
    channel is engine-deterministic."""
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.withColumn(
        "prev_channel",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        tagged.where(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("prev_channel", F.lit("direct")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            F.round(F.sum("value") + 1e-9, 2).alias("revenue"),
        )
    )


_ATTRIBUTION_SQL = """
WITH tagged AS (
  SELECT event_type, value,
         LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_channel
  FROM events)
SELECT COALESCE(prev_channel, 'direct') AS channel,
       COUNT(*) AS conversions,
       ROUND(SUM(value) + 1e-9, 2) AS revenue
FROM tagged
WHERE event_type = 'purchase'
GROUP BY 1
"""


_INTERVAL_MIN = 30  # each event opens a 30-minute activity interval


def ts_interval_union(spark: SparkSession, sf: str) -> DataFrame:
    """Interval union (merge overlapping intervals, measure coverage)
    — the time-coverage primitive behind billing, uptime, and
    watch-time analytics: each event opens a 30-minute activity
    interval; per user, overlapping intervals merge and the surface
    is merged-interval count, total covered seconds, and the longest
    merged span. The classic one-pass shape: an interval starts a new
    island iff its start exceeds the running max of all PRIOR ends
    (one cummax window), islands number via a running sum of those
    flags (second window, same partitioning — ONE shuffle on user_id
    total, Spark reuses the sort), then a per-island aggregate. All
    arithmetic is exact integer microseconds until the final /1e6;
    ties on ts break on event_id in both engines."""
    ev = table(spark, sf, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_INTERVAL_MIN * 60 * 1000000)).alias(
            "e"
        ),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum(F.col("me") - F.col("ms")) / F.lit(1000000.0) + 1e-9, 3
        ).alias("covered_sec"),
        F.round(
            F.max(F.col("me") - F.col("ms")) / F.lit(1000000.0) + 1e-9, 3
        ).alias("longest_sec"),
    )


_INTERVAL_UNION_SQL = """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + {span} AS e
  FROM events),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM iv),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged),
merged AS (
  SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
  FROM islands GROUP BY 1, 2)
SELECT user_id,
       COUNT(*) AS n_intervals,
       ROUND(SUM(me - ms) / 1000000.0 + 1e-9, 3) AS covered_sec,
       ROUND(MAX(me - ms) / 1000000.0 + 1e-9, 3) AS longest_sec
FROM merged
GROUP BY user_id
""".format(span=_INTERVAL_MIN * 60 * 1000000)


def agg_hll_intersection(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch set-INTERSECTION via inclusion–exclusion — the audience
    -overlap primitive (users who did both A and B) computed from
    mergeable sketches: |A∩B| ≈ est(A) + est(B) − est(A∪B), where all
    three estimates come from the same per-type HLL sketches that a
    100 TB deployment would persist once and combine forever — the
    union estimate reuses the stored sketches via hll_union, no
    fact-table rescan per pair. Surface (agg_hll_vs_exact style):
    per unordered type pair, the EXACT intersection count plus a
    boolean the oracle pins TRUE — the sketch estimate lands within
    10% of exact plus one absolute count (inclusion–exclusion
    compounds three per-sketch errors, hence the looser bound; the +1
    keeps a zero-intersection pair satisfiable; at current scales the
    sketches are sparse-mode near-exact, so the pin has huge slack).
    The EXACT side is a (type, user) distinct self-join — shuffle key
    user_id, never a per-type user set collected into one row — so
    both sides of the comparison scale. The estimate itself stays out
    of the surface — engine-specific (agg_sketch_hll's rows-only
    row carries the raw estimates)."""
    ev = table(spark, sf, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    pairs = (
        sk.select(
            F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a")
        )
        .join(
            sk.select(
                F.col("event_type").alias("type_b"),
                F.col("sk").alias("sk_b"),
            ),
            F.col("type_a") < F.col("type_b"),
        )
        .select(
            "type_a",
            "type_b",
            (
                F.hll_sketch_estimate("sk_a")
                + F.hll_sketch_estimate("sk_b")
                - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
            ).alias("_est"),
        )
    )
    du = ev.select("event_type", "user_id").distinct()
    exact = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return (
        pairs.join(exact, ["type_a", "type_b"], "left")
        .withColumn(
            "exact_intersection",
            F.coalesce("exact_intersection", F.lit(0)).cast("long"),
        )
        .select(
            "type_a",
            "type_b",
            "exact_intersection",
            (
                F.abs(F.col("_est") - F.col("exact_intersection"))
                <= 0.10 * F.col("exact_intersection") + 1.0
            ).alias("within_10pct"),
        )
    )


# pairs come from a distinct-type cross join so a ZERO-intersection
# pair still emits a row (matching Spark's left join + coalesce 0) —
# an inner user-level self-join alone would drop exactly the case the
# +1 slack exists to allow (r8 self-review finding)
_HLL_INTERSECTION_SQL = """
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
types AS (SELECT DISTINCT event_type FROM events),
hits AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT t1.event_type AS type_a, t2.event_type AS type_b,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS exact_intersection,
       TRUE AS within_10pct
FROM types t1 JOIN types t2 ON t1.event_type < t2.event_type
LEFT JOIN hits h
  ON h.type_a = t1.event_type AND h.type_b = t2.event_type
"""


def events_rfm_segment(spark: SparkSession, sf: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    marketing-analytics staple. Scale-shaped deliberately: scores come
    from FIXED recency thresholds plus corpus-RELATIVE frequency and
    monetary ratios (each user's metric over the global mean — the
    fair-share-multiple lesson from q20: absolute cuts silently empty
    or saturate as SF grows, ratios self-normalize), NOT from
    NTILE-style quantile windows, because a global one-partition sort
    window over one-row-per-user is exactly the single-task shape
    that dies first at 10^9 users (window_ntile / agg_percentiles
    already cover that SQL surface on bounded inputs). One hash
    aggregate on user_id + a broadcast 1-row mean combine — nothing
    else shuffles.

    Determinism at the CASE boundaries: ratios and recency hours are
    ROUND()ed identically on both engines before comparison, so a
    value landing exactly on a threshold compares identically (the
    rounded value, not the raw accumulation-ordered float, is the
    surface)."""
    ev = table(spark, sf, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("_last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("value") + 1e-6, 2).alias("monetary"),
    )
    g = u.agg(
        F.max("_last_us").alias("_gmax"),
        F.round(F.avg("frequency") + 1e-9, 6).alias("_af"),
        F.round(F.avg("monetary") + 1e-9, 6).alias("_am"),
    )
    s = u.crossJoin(F.broadcast(g)).select(
        "user_id",
        F.round((F.col("_gmax") - F.col("_last_us")) / 3.6e9 + 1e-9, 4).alias(
            "recency_hours"
        ),
        "frequency",
        "monetary",
        F.round(F.col("frequency") / F.col("_af") + 1e-9, 4).alias("_fr"),
        F.round(F.col("monetary") / F.col("_am") + 1e-9, 4).alias("_mr"),
    )
    r_score = (
        F.when(F.col("recency_hours") <= 3, 4)
        .when(F.col("recency_hours") <= 8, 3)
        .when(F.col("recency_hours") <= 24, 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("_fr") >= 1.25, 4)
        .when(F.col("_fr") >= 1.0, 3)
        .when(F.col("_fr") >= 0.75, 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("_mr") >= 1.25, 4)
        .when(F.col("_mr") >= 1.0, 3)
        .when(F.col("_mr") >= 0.75, 2)
        .otherwise(1)
    )
    scored = s.select(
        "user_id",
        "recency_hours",
        "frequency",
        "monetary",
        r_score.cast("int").alias("r_score"),
        f_score.cast("int").alias("f_score"),
        m_score.cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.when(
            (F.col("r_score") >= 3)
            & (F.col("f_score") >= 3)
            & (F.col("m_score") >= 3),
            "champion",
        )
        .when(
            (F.col("r_score") == 1) & (F.col("f_score") >= 3), "at_risk"
        )
        .when(F.col("m_score") == 4, "big_spender")
        .when(F.col("r_score") >= 3, "recent")
        .otherwise("casual"),
    )


_RFM_SQL = """
WITH u AS (
  SELECT user_id,
         MAX(epoch_us(ts)) AS _last_us,
         COUNT(*) AS frequency,
         ROUND(SUM(value) + 1e-6, 2) AS monetary
  FROM events GROUP BY user_id),
g AS (
  SELECT MAX(_last_us) AS _gmax,
         ROUND(AVG(frequency) + 1e-9, 6) AS _af,
         ROUND(AVG(monetary) + 1e-9, 6) AS _am
  FROM u),
s AS (
  SELECT user_id,
         ROUND((_gmax - _last_us) / 3.6e9 + 1e-9, 4) AS recency_hours,
         frequency, monetary,
         ROUND(frequency / _af + 1e-9, 4) AS _fr,
         ROUND(monetary / _am + 1e-9, 4) AS _mr
  FROM u CROSS JOIN g),
sc AS (
  SELECT user_id, recency_hours, frequency, monetary,
         CASE WHEN recency_hours <= 3 THEN 4
              WHEN recency_hours <= 8 THEN 3
              WHEN recency_hours <= 24 THEN 2 ELSE 1 END AS r_score,
         CASE WHEN _fr >= 1.25 THEN 4 WHEN _fr >= 1.0 THEN 3
              WHEN _fr >= 0.75 THEN 2 ELSE 1 END AS f_score,
         CASE WHEN _mr >= 1.25 THEN 4 WHEN _mr >= 1.0 THEN 3
              WHEN _mr >= 0.75 THEN 2 ELSE 1 END AS m_score
  FROM s)
SELECT user_id, recency_hours, frequency, monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3
              THEN 'champion'
            WHEN r_score = 1 AND f_score >= 3 THEN 'at_risk'
            WHEN m_score = 4 THEN 'big_spender'
            WHEN r_score >= 3 THEN 'recent'
            ELSE 'casual' END AS segment
FROM sc
"""


#: interval-overlap join constants: 1-hour bin grid (µs) and the
#: ±30 min half-width of an error's impact window.
_OVL_GRID_US = 3_600_000_000
_OVL_HALF_US = 1_800_000_000


def join_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """INTERVAL x INTERVAL OVERLAP JOIN — each user's daily activity
    span matched to that user's error-impact windows (error ts ± 30
    min) it overlaps, with the overlap duration. join_range_interval
    covers point-in-interval; this is the two-sided case (incident
    correlation, ad-session x outage attribution).

    Spark has no interval join; the scalable form is the BINNED
    equi-join: both interval sets explode into the 1-hour grid cells
    they cover (activity spans <= 25 cells, error windows <= 2), the
    join runs equi on (user_id, cell) — hash-partitionable, never a
    BroadcastNestedLoopJoin on the raw inequality predicate, whose
    build side at 100 TB is unboundable — and the residual overlap
    predicate filters inside the joined cell. A pair whose overlap
    spans several shared cells would duplicate: the CANONICAL-CELL
    rule (emit only where the cell contains GREATEST(a_start,
    b_start), i.e. the first overlapping cell) makes each pair emit
    exactly once with zero dedup shuffle. Touching intervals (overlap
    = 0 s) count, matching the oracle's inclusive <=."""
    ev = table(spark, sf, "events")
    a = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min(F.unix_micros("ts")).alias("a_start"),
        F.max(F.unix_micros("ts")).alias("a_end"),
    )
    b = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        (F.unix_micros("ts") - _OVL_HALF_US).alias("b_start"),
        (F.unix_micros("ts") + _OVL_HALF_US).alias("b_end"),
    )
    ac = a.select(
        "user_id",
        "day",
        "a_start",
        "a_end",
        F.explode(
            F.expr(
                f"sequence(a_start div {_OVL_GRID_US}, "
                f"a_end div {_OVL_GRID_US})"
            )
        ).alias("cell"),
    )
    bc = b.select(
        F.col("user_id").alias("b_user"),
        "err_id",
        "b_start",
        "b_end",
        F.explode(
            F.expr(
                f"sequence(b_start div {_OVL_GRID_US}, "
                f"b_end div {_OVL_GRID_US})"
            )
        ).alias("b_cell"),
    )
    # exact integer division: epoch-µs magnitudes sit near the double
    # mantissa edge, where a true-division quotient can round across
    # the bin boundary
    first_overlap_cell = F.expr(
        f"greatest(a_start, b_start) div {_OVL_GRID_US}"
    )
    return (
        ac.join(
            bc,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("cell") == F.col("b_cell"))
            & (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end")),
        )
        .where(F.col("cell") == first_overlap_cell)
        .select(
            "user_id",
            "day",
            "err_id",
            F.round(
                (
                    F.least("a_end", "b_end")
                    - F.greatest("a_start", "b_start")
                )
                / 1000000.0
                + 1e-9,
                3,
            ).alias("overlap_seconds"),
        )
    )


_INTERVAL_OVERLAP_SQL = f"""
WITH a AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         MIN(epoch_us(ts)) AS a_start, MAX(epoch_us(ts)) AS a_end
  FROM events GROUP BY 1, 2),
b AS (
  SELECT user_id, event_id AS err_id,
         epoch_us(ts) - {_OVL_HALF_US} AS b_start,
         epoch_us(ts) + {_OVL_HALF_US} AS b_end
  FROM events WHERE event_type = 'error')
SELECT a.user_id, a.day, b.err_id,
       ROUND((LEAST(a.a_end, b.b_end) - GREATEST(a.a_start, b.b_start))
             / 1000000.0 + 1e-9, 3) AS overlap_seconds
FROM a JOIN b
  ON a.user_id = b.user_id
 AND a.a_start <= b.b_end AND b.b_start <= a.a_end
"""


def _quant_expr(x_double: str, lo: str, hi: str, bins: int) -> str:
    """Fixed-width quantization of ``x`` into ``[0, bins)`` given its
    global lo/hi — shared TEXT between the Spark plan (F.expr) and the
    DuckDB oracle so both engines run byte-identical double arithmetic
    (same parenthesization → same IEEE result → identical bins). No
    global sort: rank-based quantiles would need one; min/max is a
    1-row aggregate broadcast everywhere. The lo = hi guard matters:
    without it a constant column divides by zero, and the engines
    DIVERGE on the NaN (Spark floor(NaN) → 0, DuckDB CAST(NaN AS INT)
    errors) — a constant dim simply has one bin."""
    return (
        f"CASE WHEN ({hi}) = ({lo}) THEN 0 ELSE "
        f"CAST(LEAST({bins - 1}, FLOOR((({x_double}) - {lo}) * {bins}.0"
        f" / CAST(({hi}) - ({lo}) AS DOUBLE))) AS INT) END"
    )


#: Morton interleave of two 8-bit quantized dims (qx odd bits, qy even
#: bits) — plain bit arithmetic, valid verbatim in Spark SQL and DuckDB.
_Z_BITS = " + ".join(
    f"(((qx >> {i}) & 1) << {2 * i + 1}) + (((qy >> {i}) & 1) << {2 * i})"
    for i in range(8)
)
#: top 6 bits of the 16-bit Morton key = 64 z-regions, each a 32x32
#: square in (qx, qy) space — the file boundaries a z-ordered writer
#: would produce.
_ZF_EXPR = f"(({_Z_BITS}) >> 10)"
_QX_EXPR = _quant_expr("CAST(user_id AS DOUBLE)", "ux0", "ux1", 256)
_QY_EXPR = _quant_expr("value", "vx0", "vx1", 256)


def layout_zorder_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Z-ORDER DATA LAYOUT, quantified — the multi-dimensional
    data-skipping story at 100 TB. A table sorted by one column prunes
    parquet files (row-group min/max) only for predicates on that
    column; interleaving the bits of two quantized dimensions (Morton /
    Z-order curve, the Delta Lake OPTIMIZE ZORDER BY layout) gives
    every file a small min/max envelope in BOTH dimensions at once.

    This operator computes, for the same events table laid out two
    ways — 64 z-regions of the 16-bit Morton key of (user_id, value)
    vs 64 time-ordered files (the natural ingest order) — each file's
    per-dimension min/max, then probes all 256 point queries per
    dimension against those envelopes and returns the average number
    of files a min/max-pruning scan would have to read:

      (layout, dim, n_files, avg_files_scanned)

    Expected shape: the z-layout scans ~n_files/8 per point query on
    EITHER dimension (a 6-bit z-prefix fixes 3 high bits of each dim);
    the time-ordered layout scans ~all files for both (ingest time is
    uncorrelated with user and value). At scale the layout itself is
    `repartitionByRange(zkey).sortWithinPartitions(zkey)` at write
    time; everything here is the decision metric for it, computed with
    one 1-row min/max broadcast (no global sort — a rank-based
    quantizer would need one), one persisted pass stamping
    (qx, qy, zf, tf), two tiny groupBys, and a broadcast probe join.
    Fully deterministic, hence fully oracled — the quantizer and the
    Morton key are shared SQL text run verbatim by both engines."""
    from ..util import persist_tracked

    ev = table(spark, sf, "events")
    rng = ev.agg(
        F.min("user_id").alias("ux0"),
        F.max("user_id").alias("ux1"),
        F.min("value").alias("vx0"),
        F.max("value").alias("vx1"),
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    quant = persist_tracked(
        ev.select("user_id", "value", F.unix_micros("ts").alias("tus"))
        .crossJoin(F.broadcast(rng))
        .selectExpr(
            f"{_QX_EXPR} AS qx",
            f"{_QY_EXPR} AS qy",
            f"{_quant_expr('CAST(tus AS DOUBLE)', 't0', 't1', 64)} AS tf",
        )
        .withColumn("zf", F.expr(_ZF_EXPR))
    )

    def file_stats(filecol: str, layout: str) -> DataFrame:
        s = quant.groupBy(F.col(filecol).alias("file_id")).agg(
            F.min("qx").alias("ulo"),
            F.max("qx").alias("uhi"),
            F.min("qy").alias("vlo"),
            F.max("qy").alias("vhi"),
        )
        u = s.select(
            F.lit(layout).alias("layout"),
            F.lit("user").alias("dim"),
            "file_id",
            F.col("ulo").alias("lo"),
            F.col("uhi").alias("hi"),
        )
        v = s.select(
            F.lit(layout).alias("layout"),
            F.lit("value").alias("dim"),
            "file_id",
            F.col("vlo").alias("lo"),
            F.col("vhi").alias("hi"),
        )
        return u.unionByName(v)

    stats = persist_tracked(
        file_stats("zf", "zorder").unionByName(file_stats("tf", "linear"))
    )
    probes = spark.range(256).select(F.col("id").cast("int").alias("c"))
    combos = stats.select("layout", "dim").distinct()
    st = stats.select(
        F.col("layout").alias("s_layout"),
        F.col("dim").alias("s_dim"),
        "file_id",
        "lo",
        "hi",
    )
    counts = (
        probes.crossJoin(F.broadcast(combos))
        .join(
            F.broadcast(st),
            (F.col("layout") == F.col("s_layout"))
            & (F.col("dim") == F.col("s_dim"))
            & (F.col("c") >= F.col("lo"))
            & (F.col("c") <= F.col("hi")),
            "left",
        )
        .groupBy("layout", "dim", "c")
        .agg(F.count("file_id").alias("nhit"))
    )
    n_files = stats.groupBy("layout").agg(
        F.countDistinct("file_id").alias("n_files")
    )
    return (
        counts.groupBy("layout", "dim")
        .agg(F.round(F.avg("nhit") + 1e-9, 4).alias("avg_files_scanned"))
        .join(F.broadcast(n_files), "layout")
        .select("layout", "dim", "n_files", "avg_files_scanned")
    )


_ZORDER_SQL = f"""
WITH rng AS (
  SELECT MIN(user_id) AS ux0, MAX(user_id) AS ux1,
         MIN(value)   AS vx0, MAX(value)   AS vx1,
         MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
  FROM events),
q AS (
  SELECT {_QX_EXPR} AS qx,
         {_QY_EXPR} AS qy,
         {_quant_expr("CAST(epoch_us(ts) AS DOUBLE)", "t0", "t1", 64)} AS tf
  FROM events CROSS JOIN rng),
z AS (SELECT qx, qy, tf, {_ZF_EXPR} AS zf FROM q),
sz AS (SELECT zf AS file_id, MIN(qx) AS ulo, MAX(qx) AS uhi,
              MIN(qy) AS vlo, MAX(qy) AS vhi FROM z GROUP BY zf),
st AS (SELECT tf AS file_id, MIN(qx) AS ulo, MAX(qx) AS uhi,
              MIN(qy) AS vlo, MAX(qy) AS vhi FROM z GROUP BY tf),
stats AS (
  SELECT 'zorder' AS layout, 'user'  AS dim, file_id, ulo AS lo, uhi AS hi FROM sz
  UNION ALL
  SELECT 'zorder' AS layout, 'value' AS dim, file_id, vlo AS lo, vhi AS hi FROM sz
  UNION ALL
  SELECT 'linear' AS layout, 'user'  AS dim, file_id, ulo AS lo, uhi AS hi FROM st
  UNION ALL
  SELECT 'linear' AS layout, 'value' AS dim, file_id, vlo AS lo, vhi AS hi FROM st),
probes AS (SELECT CAST(g.c AS INT) AS c FROM generate_series(0, 255) g(c)),
combos AS (SELECT DISTINCT layout, dim FROM stats),
counts AS (
  SELECT p.layout, p.dim, p.c, COUNT(s.file_id) AS nhit
  FROM (SELECT * FROM probes CROSS JOIN combos) p
  LEFT JOIN stats s
    ON s.layout = p.layout AND s.dim = p.dim AND p.c BETWEEN s.lo AND s.hi
  GROUP BY p.layout, p.dim, p.c),
nf AS (SELECT layout, CAST(COUNT(DISTINCT file_id) AS BIGINT) AS n_files
       FROM stats GROUP BY layout)
SELECT c.layout, c.dim, nf.n_files,
       ROUND(AVG(c.nhit) + 1e-9, 4) AS avg_files_scanned
FROM counts c JOIN nf ON nf.layout = c.layout
GROUP BY c.layout, c.dim, nf.n_files
"""


def agg_moments_merge(spark: SparkSession, sf: str) -> DataFrame:
    """REAGGREGABLE MOMENTS: per-(type, day) partial (n, mean, M2)
    merged exactly to per-type mean/variance via the Chan/Welford
    combination identity, pinned against the direct VAR_POP over the
    raw rows. This is the algebra behind every incremental rollup at
    100 TB — daily partials merge to monthly/global stats without
    re-reading raw data, the same shape agg_bitmap_distinct proves
    for COUNT DISTINCT and agg_sketch_hll for its approximation;
    means/variances are NOT naively additive, and this operator pins
    the correct merge (M2_tot = ΣM2_i + Σn_i·m_i² − n·m̄²) as a
    hash-checked equality with the direct path.

    Merged-vs-direct float margin (measured before fronting, the
    sim_ivf_recall rule): max |var_merged − var_direct| is 4e-12 at
    sf0.01 and 2e-11 at sf0.1 — the two paths compute the same real
    number, so the 4dp rounded equality (tie spacing 5e-5) has ~6
    orders of margin. Scale shape: two hash aggregates (partial, merge) plus
    the direct aggregate — all map-side combinable, no window, no
    shuffle beyond the group keys."""
    ev = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    p = ev.groupBy("event_type", "day").agg(
        F.count("value").alias("n"),
        F.avg("value").alias("m"),
        (F.var_pop("value") * F.count("value")).alias("m2"),
    )
    nm = F.sum(F.col("n") * F.col("m"))
    g = p.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        (nm / F.sum("n")).alias("mean_m"),
        (
            (
                F.sum("m2")
                + F.sum(F.col("n") * F.col("m") * F.col("m"))
                - nm * nm / F.sum("n")
            )
            / F.sum("n")
        ).alias("var_m"),
    )
    d = ev.groupBy("event_type").agg(F.var_pop("value").alias("var_d"))
    vm = F.round(F.col("var_m") + 1e-9, 4)
    vd = F.round(F.col("var_d") + 1e-9, 4)
    return g.join(d, "event_type").select(
        "event_type",
        "n_events",
        F.round(F.col("mean_m") + 1e-9, 4).alias("mean_merged"),
        vm.alias("var_merged"),
        vd.alias("var_direct"),
        (vm == vd).alias("merged_matches"),
    )


_MOMENTS_MERGE_SQL = """
WITH p AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COUNT(value) AS n, AVG(value) AS m,
         VAR_POP(value) * COUNT(value) AS m2
  FROM events GROUP BY 1, 2),
g AS (
  SELECT event_type,
         CAST(SUM(n) AS BIGINT) AS n_events,
         SUM(n * m) / SUM(n) AS mean_m,
         (SUM(m2) + SUM(n * m * m)
          - SUM(n * m) * SUM(n * m) / SUM(n)) / SUM(n) AS var_m
  FROM p GROUP BY 1),
d AS (
  SELECT event_type, VAR_POP(value) AS var_d FROM events GROUP BY 1)
SELECT g.event_type, n_events,
       ROUND(mean_m + 1e-9, 4) AS mean_merged,
       ROUND(var_m + 1e-9, 4) AS var_merged,
       ROUND(var_d + 1e-9, 4) AS var_direct,
       ROUND(var_m + 1e-9, 4) = ROUND(var_d + 1e-9, 4) AS merged_matches
FROM g JOIN d USING (event_type)
"""


def join_scd2_pointintime(spark: SparkSession, sf: str) -> DataFrame:
    """POINT-IN-TIME (as-of-dimension) join: enrich each purchase
    with the signup attribute that was VALID AT the purchase instant
    — the temporal join every SCD2 warehouse exists to serve, and
    the one a naive latest-attribute join silently gets wrong for
    historical facts. Intervals come from the shared SCD2 dim
    (lead() windows, half-open [valid_from, valid_to)); each fact
    matches AT MOST one interval because the per-user intervals
    partition the timeline (zero-length [t, t) intervals from
    equal-ts changes match nothing — t < valid_to fails). LEFT join
    keeps pre-signup purchases with NULL attribute.

    Scale shape: one equi-shuffle on user_id with the interval
    predicates as residual conditions — per-user interval counts are
    small (change events, not raw events), so the residual scan is
    bounded; no range-join pair blowup, no window over facts."""
    dim = _scd2_dim(spark, sf).select(
        "user_id", "attr_value", "valid_from", "valid_to"
    )
    fact = (
        table(spark, sf, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", "value")
    )
    j = fact.alias("f").join(
        dim.alias("d"),
        (F.col("f.user_id") == F.col("d.user_id"))
        & (F.col("d.valid_from") <= F.col("f.ts"))
        & (F.col("d.valid_to").isNull() | (F.col("f.ts") < F.col("d.valid_to"))),
        "left",
    )
    return j.select(
        F.col("f.event_id").alias("event_id"),
        F.col("f.user_id").alias("user_id"),
        F.col("f.ts").alias("purchase_ts"),
        F.col("f.value").alias("purchase_value"),
        F.col("d.attr_value").alias("attr_value"),
        F.col("d.valid_from").alias("valid_from"),
        F.col("d.valid_from").isNotNull().alias("matched"),
    )


_SCD2_PIT_SQL = """
WITH dim AS ({scd2}),
f AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase')
SELECT f.event_id, f.user_id, f.ts AS purchase_ts,
       f.value AS purchase_value,
       d.attr_value, d.valid_from,
       d.valid_from IS NOT NULL AS matched
FROM f LEFT JOIN dim d
  ON d.user_id = f.user_id
 AND d.valid_from <= f.ts
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
""".format(scd2=_SCD2_SQL.strip())


def events_ab_welch(spark: SparkSession, sf: str) -> DataFrame:
    """A/B EXPERIMENT READOUT: split users into two arms by the TOP
    BIT of the house multiplicative hash (the reproducible form of
    random assignment; see the arm comment below for why not the low
    bit), then per event type compare the value means with the
    WELCH t statistic — unequal variances, unequal arm sizes, the
    test every experimentation pipeline computes. Entirely algebraic
    over per-arm (n, mean, var_samp) aggregates, so the statistic
    itself is oracle-checked.

    Deliberately NO `significant` boolean: the margin audit (the
    sim_ivf_recall rule) measured |t| up to 1.91 at sf0.001 against
    the 1.96 cut — null-data t is ~N(0,1), so ANY fixed cut sits
    ~5% per type per testdata regeneration from a spurious flip. The
    VALUE is pinned at 4dp instead; consumers apply their own cut.

    Scale shape: one hash aggregate over (event_type) with
    conditional per-arm aggregates — map-side combinable, no
    shuffle beyond the 5 group keys, no window."""
    from .augment import _mult_hash_key

    ev = table(spark, sf, "events").select("event_type", "user_id", "value")
    # arm = the hash's TOP bit: the Knuth hash leaves the input's low
    # 16 bits unmixed (hash % 2 IS user_id % 2), so a low-bit arm
    # would inherit any id-parity structure (striped shards,
    # alternating cohorts) — the top bit is fully mixed
    keyed = ev.withColumn(
        "b", F.floor(_mult_hash_key("user_id") / F.lit(2147483648)).cast("int")
    )
    va = F.when(F.col("b") == 0, F.col("value"))
    vb = F.when(F.col("b") == 1, F.col("value"))
    g = keyed.groupBy("event_type").agg(
        F.count(va).cast("bigint").alias("n_a"),
        F.count(vb).cast("bigint").alias("n_b"),
        F.avg(va).alias("_ma"),
        F.avg(vb).alias("_mb"),
        F.var_samp(va).alias("_va"),
        F.var_samp(vb).alias("_vb"),
    )
    t = (F.col("_ma") - F.col("_mb")) / F.sqrt(
        F.col("_va") / F.col("n_a") + F.col("_vb") / F.col("n_b")
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(F.col("_ma") + 1e-9, 4).alias("mean_a"),
        F.round(F.col("_mb") + 1e-9, 4).alias("mean_b"),
        F.round(t + 1e-9, 4).alias("t_stat"),
    )


_AB_WELCH_SQL = """
WITH k AS (
  SELECT event_type, value, {hash} // 2147483648 AS b
  FROM (SELECT event_type, value,
               ((user_id % 4294967296) + 4294967296) % 4294967296 AS a
        FROM events) t)
SELECT event_type,
       CAST(COUNT(CASE WHEN b = 0 THEN value END) AS BIGINT) AS n_a,
       CAST(COUNT(CASE WHEN b = 1 THEN value END) AS BIGINT) AS n_b,
       ROUND(AVG(CASE WHEN b = 0 THEN value END) + 1e-9, 4) AS mean_a,
       ROUND(AVG(CASE WHEN b = 1 THEN value END) + 1e-9, 4) AS mean_b,
       ROUND((AVG(CASE WHEN b = 0 THEN value END)
              - AVG(CASE WHEN b = 1 THEN value END))
             / sqrt(VAR_SAMP(CASE WHEN b = 0 THEN value END)
                      / COUNT(CASE WHEN b = 0 THEN value END)
                    + VAR_SAMP(CASE WHEN b = 1 THEN value END)
                      / COUNT(CASE WHEN b = 1 THEN value END))
             + 1e-9, 4) AS t_stat
FROM k GROUP BY event_type
"""


def _compose_ab_welch_sql() -> str:
    from .augment import _MULT_HASH_SQL

    return _AB_WELCH_SQL.format(hash=_MULT_HASH_SQL)


def events_user_overlap_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """AUDIENCE OVERLAP: exact jaccard between the user sets of every
    event-type pair — the segment-overlap matrix (which behaviors
    co-occur in the same users) that drives dataset mixing and
    experiment-contamination checks. Set intersection is an equi
    join on user_id over the DISTINCT (type, user) frame — per-user
    type lists are bounded by the type cardinality, so the per-user
    pair fan-out is a constant, never |A| x |B|.

    Scale shape: one distinct shuffle + one user_id shuffle + a
    types²-sized aggregate; the 1-row-per-type size frame joins in
    broadcast. Exact, so fully oracled."""
    us = (
        table(spark, sf, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    sizes = us.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = us.select(F.col("event_type").alias("type_a"), "user_id")
    b = us.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                + 1e-9,
                4,
            ).alias("jaccard"),
        )
    )


_USER_OVERLAP_SQL = """
WITH us AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM us GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM us a JOIN us b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b,
       sa.n AS n_a, sb.n AS n_b, n_common,
       ROUND(n_common / (sa.n + sb.n - n_common) + 1e-9, 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


def profile_join_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    """JOIN-KEY SKEW PROFILE for events.user_id — the diagnostic a
    planner (or a human) reads before deciding whether a shuffle
    join needs salting (join_salted_skew / agg_salted_skew are the
    cures; this is the thermometer): key cardinality, the heaviest
    key's share of all rows, exact p50/p99 key frequencies
    (interpolated percentile, the agg_percentiles convention), and
    skew_ratio = heaviest/mean — the multiple by which the hottest
    reduce task outweighs the average one.

    Scale shape: one hash aggregate to per-key counts, then a
    types-of-aggregate pass over the (much smaller) count frame;
    the exact percentile shuffles only key counts, not rows."""
    counts = (
        table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("top1_count"),
        F.round(F.max("c") / F.sum("c") + 1e-9, 6).alias("top1_share"),
        F.round(F.expr("percentile(c, 0.5)") + 1e-9, 4).alias("p50_count"),
        F.round(F.expr("percentile(c, 0.99)") + 1e-9, 4).alias("p99_count"),
        F.round(F.max("c") * F.count(F.lit(1)) / F.sum("c") + 1e-9, 4).alias(
            "skew_ratio"
        ),
    )


_KEY_SKEW_SQL = """
WITH counts AS (
  SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)
SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS top1_count,
       ROUND(MAX(c) / SUM(c) + 1e-9, 6) AS top1_share,
       ROUND(quantile_cont(c, 0.5) + 1e-9, 4) AS p50_count,
       ROUND(quantile_cont(c, 0.99) + 1e-9, 4) AS p99_count,
       ROUND(MAX(c) * COUNT(*) / SUM(c) + 1e-9, 4) AS skew_ratio
FROM counts
"""


#: Cardinality-estimation sampling rate: 1-in-16 of join keys.
_EST_MOD = 16


def est_join_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """SAMPLED JOIN-CARDINALITY ESTIMATE vs exact — the planner
    technique for sizing a join before running it: take a 1/16
    KEY-hash sample of users (sampling KEYS, not rows — row sampling
    breaks join estimates because both sides must keep the SAME
    keys), count the purchase x click per-user pair join on the
    sample, scale by 16, and surface the estimate next to the exact
    count with their ratio. The sample is the house hash permutation
    (deterministic), so estimate AND exact are both oracle-checked —
    this key pins the estimator's bias on live data every round.

    Scale shape: the estimate path scans 1/16 of the keys through
    the same one-shuffle join as the exact path; both are per-user
    bounded fan-outs (purchases x clicks within a user), never a
    cross join."""
    from .augment import _mult_hash_key

    ev = table(spark, sf, "events").select("event_type", "user_id")
    p = ev.where(F.col("event_type") == "purchase").select("user_id")
    c = ev.where(F.col("event_type") == "click").select("user_id")
    pairs = p.join(c, "user_id")
    exact = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    # sample on the TOP 4 hash bits (hash % 16 would be plain
    # user_id % 16 — the Knuth hash's low bits are the input's own,
    # so a modulus sample would inherit round-robin/block id layout
    # instead of randomizing over it)
    keep = (
        F.floor(_mult_hash_key("user_id") / F.lit(4294967296 // _EST_MOD))
        == 0
    )
    sampled = p.where(keep).join(c.where(keep), "user_id")
    est = sampled.agg(
        (F.count(F.lit(1)) * _EST_MOD).cast("bigint").alias("n_est")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_exact",
        "n_est",
        F.round(F.col("n_est") / F.col("n_exact") + 1e-9, 4).alias(
            "est_over_exact"
        ),
    )


_EST_JOIN_CARD_SQL = """
WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id FROM events WHERE event_type = 'click'),
hk AS (
  SELECT DISTINCT user_id FROM (
    SELECT user_id, {{hash}} // {stride} AS m
    FROM (SELECT user_id,
                 ((user_id % 4294967296) + 4294967296) % 4294967296 AS a
          FROM events) t) s
  WHERE m = 0),
exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM p JOIN c USING (user_id)),
est AS (
  SELECT CAST(COUNT(*) * {mod} AS BIGINT) AS n_est
  FROM (SELECT p.user_id FROM p JOIN hk USING (user_id)) ps
  JOIN (SELECT c.user_id FROM c JOIN hk USING (user_id)) cs
    USING (user_id))
SELECT n_exact, n_est,
       ROUND(n_est / n_exact + 1e-9, 4) AS est_over_exact
FROM exact CROSS JOIN est
""".format(mod=_EST_MOD, stride=4294967296 // _EST_MOD)


def _compose_est_join_card_sql() -> str:
    from .augment import _MULT_HASH_SQL

    return _EST_JOIN_CARD_SQL.format(hash=_MULT_HASH_SQL)


def ts_changepoint_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM CHANGEPOINT SCAN per event type — the sequential
    statistic behind drift detection on metric series: center each
    type's daily-mean series on its own mean, accumulate the running
    sum of deviations, and surface the day where |CUSUM| peaks (the
    classic single-changepoint locator) with the peak magnitude and
    the series length. Daily means round at 6dp BEFORE the running
    sum (so accumulation-order noise cannot compound across days)
    and the CUSUM itself rounds at 6dp before the argmax, day
    tiebreak — the house ranking discipline.

    Scale shape: one hash aggregate to (type, day), a per-type
    window over day-count-bounded groups (series length, not event
    count), and a 1-row-per-type argmax. Events never flow through
    a window."""
    ev = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    d = ev.groupBy("event_type", "day").agg(
        F.round(F.avg("value") + 1e-9, 6).alias("x")
    )
    mu = d.groupBy("event_type").agg(
        F.round(F.avg("x") + 1e-9, 6).alias("mu")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    c = (
        d.join(F.broadcast(mu), "event_type")
        .withColumn(
            "cusum",
            F.round(F.sum(F.col("x") - F.col("mu")).over(w) + 1e-9, 6),
        )
        .withColumn(
            "n_days",
            F.count(F.lit(1)).over(
                Window.partitionBy("event_type").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).cast("bigint"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc()
    )
    return (
        c.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("changepoint_day"),
            F.round(F.abs(F.col("cusum")) + 1e-9, 4).alias("max_abs_cusum"),
        )
    )


_CUSUM_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(AVG(value) + 1e-9, 6) AS x
  FROM events GROUP BY 1, 2),
mu AS (
  SELECT event_type, ROUND(AVG(x) + 1e-9, 6) AS mu FROM d GROUP BY 1),
c AS (
  SELECT d.event_type, d.day,
         ROUND(SUM(x - mu) OVER (PARTITION BY d.event_type ORDER BY d.day
               ROWS UNBOUNDED PRECEDING) + 1e-9, 6) AS cusum,
         CAST(COUNT(*) OVER (PARTITION BY d.event_type) AS BIGINT)
           AS n_days
  FROM d JOIN mu USING (event_type))
SELECT event_type, n_days,
       day AS changepoint_day,
       ROUND(abs(cusum) + 1e-9, 4) AS max_abs_cusum
FROM (
  SELECT event_type, n_days, day, cusum,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs(cusum) DESC, day) AS rk
  FROM c) t
WHERE rk = 1
"""


#: Equi-depth histogram bucket count (boundaries at i/8 quantiles).
_EQD_BUCKETS = 8


def agg_histogram_equidepth(spark: SparkSession, sf: str) -> DataFrame:
    """EQUI-DEPTH HISTOGRAM per event type — the ANALYZE-statistics
    shape query optimizers estimate selectivity from (equal-FREQUENCY
    buckets track skew where agg_value_histogram's equal-WIDTH
    buckets go empty): boundaries are the exact interpolated i/8
    quantiles (the agg_percentiles convention), each value lands in
    bucket = #boundaries strictly below it, and per-bucket counts
    come out ~n/8 by construction — the surfaced count spread IS the
    tie-density diagnostic.

    Scale shape: one exact-percentile aggregate per type (values
    shuffle once on the 5 type keys), boundaries broadcast back as a
    7-element array, bucket assignment a per-row array filter (JVM
    higher-order, constant-size), one counting aggregate. Boundaries
    round at 6dp on BOTH engines before the comparison so the bucket
    cut is engine-identical."""
    ev = table(spark, sf, "events").select("event_type", "value")
    fr = [i / _EQD_BUCKETS for i in range(1, _EQD_BUCKETS)]
    bounds = ev.groupBy("event_type").agg(
        F.expr(
            "transform(percentile(value, array({fs})), b -> round(b + 1e-9, 6))".format(
                fs=", ".join(str(f) for f in fr)
            )
        ).alias("bounds")
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    bucket = F.expr("size(filter(bounds, b -> value > b))")
    return (
        j.withColumn("bucket", bucket.cast("int"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("value") + 1e-9, 6).alias("lo"),
            F.round(F.max("value") + 1e-9, 6).alias("hi"),
        )
    )


_EQD_SQL = """
WITH b AS (
  SELECT event_type,
         list_transform(quantile_cont(value, [{fs}]),
                        b -> ROUND(b + 1e-9, 6)) AS bounds
  FROM events GROUP BY 1),
j AS (
  SELECT e.event_type, e.value,
         CAST(len(list_filter(b.bounds, x -> e.value > x)) AS INT)
           AS bucket
  FROM events e JOIN b USING (event_type))
SELECT event_type, bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value) + 1e-9, 6) AS lo,
       ROUND(MAX(value) + 1e-9, 6) AS hi
FROM j GROUP BY 1, 2
""".format(
    fs=", ".join(str(i / _EQD_BUCKETS) for i in range(1, _EQD_BUCKETS))
)


def agg_mad_outlier_days(spark: SparkSession, sf: str) -> DataFrame:
    """ROBUST anomaly scan per event type — median/MAD instead of
    mean/stddev (events_anomaly_zscore's z-score is itself dragged by
    the outliers it hunts; the median absolute deviation has a 50%
    breakdown point, the textbook robust alternative): each (type,
    day)'s daily mean scored as robust_z = (x − median) / MAD over
    that type's daily series.

    The readout is the VALUE, not a significance boolean (the r9
    events_ab_welch rule: a hash-pinned boolean near a cut flakes per
    regeneration; consumers apply their own 3.5·1.4826 cut). Daily
    means round at 6dp BEFORE the medians (the cusum discipline);
    robust_z is NULL when MAD = 0 (a constant series has no scale —
    NULLIF on both engines).

    Scale shape: one hash aggregate to (type, day) — events never
    flow through a window — then two exact-percentile aggregates over
    the day-count-bounded series (types × days rows) and a broadcast
    join back. Spark `percentile` and DuckDB `quantile_cont` share
    interpolation semantics."""
    ev = table(spark, sf, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    d = ev.groupBy("event_type", "day").agg(
        F.round(F.avg("value") + 1e-9, 6).alias("x")
    )
    med = d.groupBy("event_type").agg(
        F.round(F.percentile("x", 0.5) + 1e-9, 6).alias("med")
    )
    dev = d.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.round(F.abs(F.col("x") - F.col("med")) + 1e-9, 6)
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", 0.5) + 1e-9, 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            F.col("x").alias("daily_mean"),
            "med",
            "mad",
            F.round(
                (F.col("x") - F.col("med"))
                / F.nullif(F.col("mad"), F.lit(0.0))
                + 1e-9,
                4,
            ).alias("robust_z"),
        )
    )


_MAD_SQL = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(AVG(value) + 1e-9, 6) AS x
  FROM events GROUP BY 1, 2),
med AS (
  SELECT event_type, ROUND(quantile_cont(x, 0.5) + 1e-9, 6) AS med
  FROM d GROUP BY 1),
dev AS (
  SELECT d.event_type, d.day, d.x, med.med,
         ROUND(abs(d.x - med.med) + 1e-9, 6) AS adev
  FROM d JOIN med USING (event_type)),
mad AS (
  SELECT event_type, ROUND(quantile_cont(adev, 0.5) + 1e-9, 6) AS mad
  FROM dev GROUP BY 1)
SELECT dev.event_type, dev.day, dev.x AS daily_mean, dev.med, mad.mad,
       ROUND((dev.x - dev.med) / NULLIF(mad.mad, 0.0) + 1e-9, 4)
         AS robust_z
FROM dev JOIN mad USING (event_type)
"""


def events_cooccurrence_lift(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association over user behavior: for every ordered
    event-type pair (a < b), the number of users who did BOTH, the
    pair's support, and its LIFT = P(a∧b) / (P(a)·P(b)) — the
    co-occurrence strength recommendation and cross-sell analyses read
    (lift > 1: the behaviors attract; < 1: they repel).

    Exact counts throughout: n_a/n_b are distinct-user counts per
    type, n_ab from a per-user type-set self-join. Scale shape: the
    DISTINCT (user, type) frame is one hash aggregate off the events
    scan; the self-join fans out per user bounded by the TYPE
    cardinality squared (a handful), never by event count; the 1-row-
    per-type marginals broadcast. No window, no all-pairs over users."""
    from ..util import persist_tracked

    ut = persist_tracked(
        table(spark, sf, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    # 1-row broadcast singleton, the house pattern for scalar totals
    # (no driver-side count at plan-build time)
    u = ut.agg(F.count_distinct("user_id").alias("n_users"))
    marg = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pair = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ma = marg.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pair.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(u))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab") / F.col("n_users").cast("double") + 1e-9, 6
            ).alias("support"),
            F.round(
                (F.col("n_ab").cast("double") * F.col("n_users").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
                + 1e-9,
                4,
            ).alias("lift"),
        )
    )


_COOCCUR_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
marg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1),
pair AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_ab, ma.n AS n_a, mb.n AS n_b,
       ROUND(n_ab / CAST(u.n_users AS DOUBLE) + 1e-9, 6) AS support,
       ROUND((CAST(n_ab AS DOUBLE) * u.n_users)
             / (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)) + 1e-9, 4)
         AS lift
FROM pair
CROSS JOIN u
JOIN marg ma ON ma.event_type = pair.type_a
JOIN marg mb ON mb.event_type = pair.type_b
"""


def join_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """AS-OF JOIN, direction=NEAREST (pandas ``merge_asof(direction=
    'nearest')``): each purchase matched to the click minimizing
    |Δt| in EITHER direction — backward attribution plus the
    "user clicked right after buying" class the backward-only as-of
    family erases. Tie-break: equal distances resolve BACKWARD
    (same-instant clicks sort before the purchase in the merge, so
    equality is backward by construction — pinned in the oracle's
    CASE ordering).

    Scale shape: the same single union-merge pass as join_asof — ONE
    user_id shuffle and one sorted window over it, with the forward
    candidate read from the mirrored frame (first click strictly
    after) in the SAME sort; never a range-join pair blowup. LEFT
    semantics: purchases with no click at all survive with NULLs."""
    ev = table(spark, sf, "events")
    wr = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        ev.where(F.col("event_type") == "click")
        .withColumn("_rn", F.row_number().over(wr))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.lit(None).cast("long").alias("purchase_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("side"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    merged = clicks.unionByName(purchases).select(
        "user_id",
        "ts",
        "side",
        "purchase_id",
        F.last("click_id", ignorenulls=True).over(wb).alias("bk_id"),
        F.last("click_ts", ignorenulls=True).over(wb).alias("bk_ts"),
        F.first("click_id", ignorenulls=True).over(wf).alias("fw_id"),
        F.first("click_ts", ignorenulls=True).over(wf).alias("fw_ts"),
    )
    p = merged.where(F.col("side") == 1)
    lag_bk = F.unix_micros("ts") - F.unix_micros("bk_ts")
    lag_fw = F.unix_micros("fw_ts") - F.unix_micros("ts")
    take_bk = F.col("bk_ts").isNotNull() & (
        F.col("fw_ts").isNull() | (lag_bk <= lag_fw)
    )
    chosen_id = F.when(take_bk, F.col("bk_id")).otherwise(F.col("fw_id"))
    chosen_ts = F.when(take_bk, F.col("bk_ts")).otherwise(F.col("fw_ts"))
    direction = F.when(
        F.col("bk_ts").isNull() & F.col("fw_ts").isNull(),
        F.lit(None).cast("string"),
    ).otherwise(F.when(take_bk, F.lit("backward")).otherwise(F.lit("forward")))
    dist = F.when(take_bk, lag_bk).otherwise(lag_fw)
    return p.select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        chosen_id.alias("click_id"),
        chosen_ts.alias("click_ts"),
        direction.alias("direction"),
        F.round(dist / 1000000.0 + 1e-9, 3).alias("dist_seconds"),
    )


_ASOF_NEAREST_SQL = f"""
WITH {_ASOF_CTES},
bk AS (
  SELECT l.purchase_id, l.user_id, l.ts AS purchase_ts,
         r.click_id AS bk_id, r.ts AS bk_ts
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
fw AS (
  SELECT l.purchase_id, r.click_id AS fw_id, r.ts AS fw_ts
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts < r.ts),
m AS (
  SELECT bk.purchase_id, bk.user_id, bk.purchase_ts,
         bk.bk_id, bk.bk_ts, fw.fw_id, fw.fw_ts,
         epoch_us(bk.purchase_ts) - epoch_us(bk.bk_ts) AS lag_bk,
         epoch_us(fw.fw_ts) - epoch_us(bk.purchase_ts) AS lag_fw
  FROM bk JOIN fw USING (purchase_id))
SELECT purchase_id, user_id, purchase_ts,
       CASE WHEN bk_ts IS NOT NULL AND (fw_ts IS NULL OR lag_bk <= lag_fw)
            THEN bk_id ELSE fw_id END AS click_id,
       CASE WHEN bk_ts IS NOT NULL AND (fw_ts IS NULL OR lag_bk <= lag_fw)
            THEN bk_ts ELSE fw_ts END AS click_ts,
       CASE WHEN bk_ts IS NULL AND fw_ts IS NULL THEN NULL
            WHEN bk_ts IS NOT NULL AND (fw_ts IS NULL OR lag_bk <= lag_fw)
            THEN 'backward' ELSE 'forward' END AS direction,
       ROUND(CASE WHEN bk_ts IS NOT NULL AND (fw_ts IS NULL OR lag_bk <= lag_fw)
                  THEN lag_bk ELSE lag_fw END / 1000000.0 + 1e-9, 3)
         AS dist_seconds
FROM m
"""


def ts_forecast_seasonal_naive(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive backtest — the baseline every real forecaster
    must beat (Hyndman & Athanasopoulos, fpp3 §5.2): forecast each
    (event_type, day)'s total value as the SAME WEEKDAY's total one
    week earlier, then score the forecast per event_type over every
    day that has a 7-day lag: n_days scored, MAE, MAPE (zero-actual
    days excluded from the denominator and counted separately — the
    classic div-by-zero trap made explicit), and mean signed bias.
    The companion to ts_seasonal_decompose: decompose MEASURES the
    weekly cycle, this op CASHES it as a prediction and prices the
    residual.

    Margin audit (r10 process rule): daily totals are ROUNDED to 4dp
    before differencing in BOTH engines, so every error term is an
    identical double and only the final AVG order differs (~1e-15 vs
    a 4dp readout); the lag join is on exact DATE equality (DATE - 7
    is closed integer arithmetic, no timezone drift under the UTC
    session); zero-actual guard means mape's denominator set is
    exactly n_scored - n_zero_actual, NULL (not NaN/inf) when empty
    in both engines.

    Scale shape: one map-side-combinable (event_type, day) aggregate
    — event bodies never shuffle again — then a self-join on the
    (event_type, day-7) key at DAILY grain (365·|types| rows/year,
    dimension-scale) and one |types|-row rollup. At 100 TB the daily
    frame is millions of times smaller than the events it summarizes;
    nothing here touches raw-event cardinality twice."""
    ev = table(spark, sf, "events")
    daily = persist_tracked(
        ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.round(F.sum("value") + 1e-9, 4).alias("total"))
    )
    fc = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("total").alias("forecast"),
    )
    scored = daily.join(fc, ["event_type", "day"])
    err = F.col("total") - F.col("forecast")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.avg(F.abs(err)) + 1e-9, 4).alias("mae"),
        F.round(
            F.avg(
                F.when(F.col("total") != 0.0, F.abs(err) / F.abs("total"))
            )
            + 1e-9,
            4,
        ).alias("mape"),
        F.sum(F.when(F.col("total") == 0.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_actual"),
        F.round(F.avg(err) + 1e-9, 4).alias("bias"),
    )


_SEASONAL_NAIVE_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(SUM(value) + 1e-9, 4) AS total
  FROM events GROUP BY 1, 2
),
fc AS (
  SELECT event_type, day + 7 AS day, total AS forecast FROM daily
),
scored AS (
  SELECT d.event_type, d.total, f.forecast,
         d.total - f.forecast AS err
  FROM daily d JOIN fc f USING (event_type, day)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(AVG(ABS(err)) + 1e-9, 4) AS mae,
       ROUND(AVG(CASE WHEN total != 0.0
                      THEN ABS(err) / ABS(total) END) + 1e-9, 4) AS mape,
       CAST(SUM(CASE WHEN total = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_actual,
       ROUND(AVG(err) + 1e-9, 4) AS bias
FROM scored GROUP BY 1
"""


# Exact-binary smoothing constants (0.125 = 2^-3, 0.375 = 3·2^-3):
# 1-α etc. fold to EXACT doubles in both engines, so the recursion's
# constant arithmetic cannot drift between Spark-side Python floats
# and DuckDB doubles. β=0 (no trend term) won the offline grid on
# this corpus — the daily series is noise + weekly cycle, and any
# trend gain was spurious.
_HW_ALPHA = 0.125
_HW_BETA = 0.0
_HW_GAMMA = 0.375
_HW_M = 7  # weekly season
_HW_SCORE_FROM = 2 * _HW_M  # leak-free: init uses days < 14, scoring starts at 14


def ts_forecast_holt_winters(spark: SparkSession, sf: str) -> DataFrame:
    """Holt-Winters ADDITIVE backtest vs the seasonal-naive baseline
    (VERDICT r12 item 7: ts_forecast_seasonal_naive says how well
    naive does; this op answers "does a real model beat it", per
    event_type, on the same one-step-ahead protocol): classical
    triple-exponential smoothing (Winters 1960; Hyndman &
    Athanasopoulos fpp3 §8.3) with weekly season m=7, textbook
    two-season initialization (l₀ = mean of days 0-6, b₀ = seasonal
    mean difference / m, s₀..₆ = first-week deviations), scored
    one-step-ahead STRICTLY AFTER the init window (t ≥ 14 — the
    first season's forecasts would share data with b₀; both engines
    skip them). Surface per event_type: n_scored, hw_mae, naive_mae
    (the SAME days' lag-7 forecast errors), mae_ratio, and
    beats_naive compared ON the 4dp-rounded maes so the verdict
    boolean cannot flip on a last-ulp. Measured live: HW beats naive
    5/5 types at sf0.001 and sf0.01 (driver gate) and 3/5 at sf0.1 —
    both verdicts occur in the registry window, so a vacuous
    always-true checker is distinguishable; aggregate MAE margin
    9-13% across sfs.

    Oracle: the recursion is a DuckDB RECURSIVE CTE carrying (l, b,
    7-slot seasonal list) per type — byte-step-identical arithmetic
    (same operation order, exact-binary α/β/γ so 1-α folds exactly;
    init sums written as the same left-to-right chains Python's
    sum() performs). Types shorter than 15 days emit nothing in both
    engines (two-season init + ≥1 scored point). Series index is
    ROW order of present days in both engines — contiguous-daily
    assumed (live data is dense; ts_gapfill is the upstream fix).

    Margin audit (r13): daily totals round to 4dp before the
    recursion, so every y_t is an identical double; the recursion is
    then deterministic chained IEEE arithmetic, identical by
    construction; only the final AVG's accumulation order differs
    (~1e-15 vs a 4dp readout); beats_naive and mae_ratio both
    compute from the ALREADY-ROUNDED maes in both engines.

    Scale shape: one map-side-combinable (event_type, day) aggregate
    — the only pass over raw events — then applyInPandas per
    event_type over the DAILY frame (365·|types| rows/year,
    dimension-scale; per-group state is one series). The sequential
    recursion is inherently ordered per series; parallelism is
    across types, which is the right axis — at 100 TB the daily
    rollup, not the fit, is the cost."""
    ev = table(spark, sf, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") + 1e-9, 4).alias("total")
    )
    m, score_from = _HW_M, _HW_SCORE_FROM
    a, bt, g = _HW_ALPHA, _HW_BETA, _HW_GAMMA

    def fit(pdf):
        import pandas as pd

        def r4(x):
            v = x + 1e-9
            return (1.0 if v >= 0 else -1.0) * (
                int(abs(v) * 1e4 + 0.5) / 1e4
            )

        empty = pd.DataFrame(
            {
                "event_type": pd.Series([], dtype="object"),
                "n_scored": pd.Series([], dtype="int64"),
                "hw_mae": pd.Series([], dtype="float64"),
                "naive_mae": pd.Series([], dtype="float64"),
                "mae_ratio": pd.Series([], dtype="float64"),
                "beats_naive": pd.Series([], dtype="bool"),
            }
        )
        pdf = pdf.sort_values("day")
        y = [float(v) for v in pdf["total"]]
        n = len(y)
        if n < score_from + 1:
            return empty
        l = sum(y[0:m]) / m
        b = (sum(y[m : 2 * m]) / m - l) / m
        s = [y[i] - l for i in range(m)]
        errs, nerrs = [], []
        for t in range(m, n):
            if t >= score_from:
                errs.append(abs(y[t] - (l + b + s[t % m])))
                nerrs.append(abs(y[t] - y[t - m]))
            l_new = a * (y[t] - s[t % m]) + (1 - a) * (l + b)
            b_new = bt * (l_new - l) + (1 - bt) * b
            s[t % m] = g * (y[t] - (l + b)) + (1 - g) * s[t % m]
            l, b = l_new, b_new
        hw_mae = r4(sum(errs) / len(errs))
        naive_mae = r4(sum(nerrs) / len(nerrs))
        if naive_mae != 0.0:
            ratio = r4(hw_mae / naive_mae)
        else:  # mirror DuckDB float division: x/0 = inf, 0/0 = nan
            ratio = float("inf") if hw_mae > 0.0 else float("nan")
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_scored": [len(errs)],
                "hw_mae": [hw_mae],
                "naive_mae": [naive_mae],
                "mae_ratio": [ratio],
                "beats_naive": [hw_mae <= naive_mae],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        kernel(fit),
        schema=(
            "event_type string, n_scored bigint, hw_mae double, "
            "naive_mae double, mae_ratio double, beats_naive boolean"
        ),
    )


_HOLT_WINTERS_SQL = """
WITH RECURSIVE
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(SUM(value) + 1e-9, 4) AS total
  FROM events GROUP BY 1, 2),
series AS (
  SELECT event_type, list(total ORDER BY day) AS ys,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily GROUP BY 1),
init AS (
  SELECT event_type, ys, n,
         (ys[1]+ys[2]+ys[3]+ys[4]+ys[5]+ys[6]+ys[7]) / 7 AS l0
  FROM series WHERE n >= {score_from} + 1),
init2 AS (
  SELECT event_type, ys, n, l0,
         ((ys[8]+ys[9]+ys[10]+ys[11]+ys[12]+ys[13]+ys[14]) / 7 - l0) / 7
           AS b0
  FROM init),
state AS (
  SELECT event_type, ys, n, CAST(7 AS BIGINT) AS t, l0 AS l, b0 AS b,
         list_transform(ys[1:7], y -> y - l0) AS s,
         CAST(NULL AS DOUBLE) AS err, CAST(NULL AS DOUBLE) AS nerr
  FROM init2
  UNION ALL
  SELECT event_type, ys, n, t + 1,
         {a} * (ys[t + 1] - s[(t % 7) + 1]) + (1 - {a}) * (l + b),
         {bta} * (({a} * (ys[t + 1] - s[(t % 7) + 1])
                   + (1 - {a}) * (l + b)) - l) + (1 - {bta}) * b,
         list_transform(range(1, 8), i ->
           CASE WHEN i = (t % 7) + 1
                THEN {g} * (ys[t + 1] - (l + b)) + (1 - {g}) * s[i]
                ELSE s[i] END),
         CASE WHEN t >= {score_from}
              THEN ABS(ys[t + 1] - (l + b + s[(t % 7) + 1])) END,
         CASE WHEN t >= {score_from} THEN ABS(ys[t + 1] - ys[t - 6]) END
  FROM state WHERE t <= n - 1)
SELECT event_type,
       CAST(COUNT(err) AS BIGINT) AS n_scored,
       ROUND(AVG(err) + 1e-9, 4) AS hw_mae,
       ROUND(AVG(nerr) + 1e-9, 4) AS naive_mae,
       ROUND(ROUND(AVG(err) + 1e-9, 4)
             / ROUND(AVG(nerr) + 1e-9, 4) + 1e-9, 4) AS mae_ratio,
       ROUND(AVG(err) + 1e-9, 4) <= ROUND(AVG(nerr) + 1e-9, 4)
         AS beats_naive
FROM state GROUP BY 1
""".format(
    a=_HW_ALPHA, bta=_HW_BETA, g=_HW_GAMMA, score_from=_HW_SCORE_FROM
)


QUERIES: dict[str, QuerySpec] = {
    "events_tumbling": QuerySpec("events_tumbling", events_tumbling, _TUMBLING_SQL),
    "events_sliding": QuerySpec("events_sliding", events_sliding, _SLIDING_SQL),
    "events_session": QuerySpec("events_session", events_session, _SESSION_SQL),
    "events_dedup_first": QuerySpec(
        "events_dedup_first", events_dedup_first, _DEDUP_FIRST_SQL
    ),
    "events_json_extract": QuerySpec(
        "events_json_extract", events_json_extract, _JSON_SQL
    ),
    "events_rate_per_user": QuerySpec(
        "events_rate_per_user", events_rate_per_user, _RATE_SQL
    ),
    # appended post-r2: must stay AFTER the first 50 merged keys so the
    # driver's correctness window keeps covering the planned surface
    "join_asof": QuerySpec("join_asof", join_asof, _ASOF_SQL),
    "events_funnel": QuerySpec("events_funnel", events_funnel, _FUNNEL_SQL),
    "sink_parquet_partitioned": QuerySpec(
        "sink_parquet_partitioned", sink_parquet_partitioned, _SINK_PART_SQL
    ),
    "ts_gapfill": QuerySpec("ts_gapfill", ts_gapfill, _GAPFILL_SQL),
    "upsert_snapshot": QuerySpec(
        "upsert_snapshot", upsert_snapshot, _UPSERT_SQL
    ),
    "pivot_event_counts": QuerySpec(
        "pivot_event_counts", pivot_event_counts, _PIVOT_SQL
    ),
    "unpivot_event_counts": QuerySpec(
        "unpivot_event_counts", unpivot_event_counts, _UNPIVOT_SQL
    ),
    "agg_percentiles": QuerySpec(
        "agg_percentiles", agg_percentiles, _PERCENTILES_SQL
    ),
    "events_retention": QuerySpec(
        "events_retention", events_retention, _RETENTION_SQL
    ),
    "window_ntile": QuerySpec("window_ntile", window_ntile, _NTILE_SQL),
    "window_time_range": QuerySpec(
        "window_time_range", window_time_range, _TIME_RANGE_SQL
    ),
    "agg_corr": QuerySpec("agg_corr", agg_corr, _CORR_SQL),
    "join_range_interval": QuerySpec(
        "join_range_interval", join_range_interval, _RANGE_INTERVAL_SQL
    ),
    # rows-only by design: DuckDB's HLL is a different implementation,
    # estimates are engine-specific (merge-losslessness + error bound
    # asserted in tests/test_relational_extra.py instead)
    "agg_sketch_hll": QuerySpec("agg_sketch_hll", agg_sketch_hll, None),
    "agg_mode_per_group": QuerySpec(
        "agg_mode_per_group", agg_mode_per_group, _MODE_SQL
    ),
    "agg_salted_skew": QuerySpec(
        "agg_salted_skew", agg_salted_skew, _SALTED_SKEW_SQL
    ),
    "events_top_paths": QuerySpec(
        "events_top_paths", events_top_paths, _TOP_PATHS_SQL
    ),
    "agg_value_histogram": QuerySpec(
        "agg_value_histogram", agg_value_histogram, _VALUE_HIST_SQL
    ),
    "ts_resample_ohlc": QuerySpec(
        "ts_resample_ohlc", ts_resample_ohlc, _OHLC_SQL
    ),
    "events_anomaly_zscore": QuerySpec(
        "events_anomaly_zscore", events_anomaly_zscore, _ANOMALY_SQL
    ),
    "agg_hll_vs_exact": QuerySpec(
        "agg_hll_vs_exact", agg_hll_vs_exact, _HLL_VS_EXACT_SQL
    ),
    "join_salted_skew": QuerySpec(
        "join_salted_skew", join_salted_skew, _JOIN_SALTED_SQL
    ),
    "agg_quantile_vs_exact": QuerySpec(
        "agg_quantile_vs_exact", agg_quantile_vs_exact, _QUANTILE_VS_EXACT_SQL
    ),
    "scd2_user_history": QuerySpec(
        "scd2_user_history", scd2_user_history, _SCD2_SQL
    ),
    "ts_asof_interp": QuerySpec(
        "ts_asof_interp", ts_asof_interp, _ASOF_INTERP_SQL
    ),
    "events_markov_transitions": QuerySpec(
        "events_markov_transitions",
        events_markov_transitions,
        _MARKOV_SQL,
    ),
    "agg_decayed_sum": QuerySpec(
        "agg_decayed_sum", agg_decayed_sum, _DECAYED_SUM_SQL
    ),
    "window_percent_rank": QuerySpec(
        "window_percent_rank", window_percent_rank, _PERCENT_RANK_SQL
    ),
    # round-8 additions
    "events_streaks": QuerySpec(
        "events_streaks", events_streaks, _STREAKS_SQL
    ),
    "events_cumulative_uniques": QuerySpec(
        "events_cumulative_uniques",
        events_cumulative_uniques,
        _CUMULATIVE_UNIQUES_SQL,
    ),
    "events_attribution_last_touch": QuerySpec(
        "events_attribution_last_touch",
        events_attribution_last_touch,
        _ATTRIBUTION_SQL,
    ),
    "agg_hll_intersection": QuerySpec(
        "agg_hll_intersection", agg_hll_intersection, _HLL_INTERSECTION_SQL
    ),
    "ts_interval_union": QuerySpec(
        "ts_interval_union", ts_interval_union, _INTERVAL_UNION_SQL
    ),
    # r9: ratio-thresholded RFM segmentation
    "events_rfm_segment": QuerySpec(
        "events_rfm_segment", events_rfm_segment, _RFM_SQL
    ),
    # r9 late additions
    "join_asof_tolerance": QuerySpec(
        "join_asof_tolerance", join_asof_tolerance, _ASOF_TOL_SQL
    ),
    "layout_zorder_stats": QuerySpec(
        "layout_zorder_stats", layout_zorder_stats, _ZORDER_SQL
    ),
    "join_interval_overlap": QuerySpec(
        "join_interval_overlap", join_interval_overlap, _INTERVAL_OVERLAP_SQL
    ),
    "agg_moments_merge": QuerySpec(
        "agg_moments_merge", agg_moments_merge, _MOMENTS_MERGE_SQL
    ),
    "join_scd2_pointintime": QuerySpec(
        "join_scd2_pointintime", join_scd2_pointintime, _SCD2_PIT_SQL
    ),
    "events_ab_welch": QuerySpec(
        "events_ab_welch", events_ab_welch, _compose_ab_welch_sql()
    ),
    "events_user_overlap_jaccard": QuerySpec(
        "events_user_overlap_jaccard",
        events_user_overlap_jaccard,
        _USER_OVERLAP_SQL,
    ),
    "profile_join_key_skew": QuerySpec(
        "profile_join_key_skew", profile_join_key_skew, _KEY_SKEW_SQL
    ),
    "est_join_cardinality": QuerySpec(
        "est_join_cardinality",
        est_join_cardinality,
        _compose_est_join_card_sql(),
    ),
    "ts_changepoint_cusum": QuerySpec(
        "ts_changepoint_cusum", ts_changepoint_cusum, _CUSUM_SQL
    ),
    "agg_histogram_equidepth": QuerySpec(
        "agg_histogram_equidepth", agg_histogram_equidepth, _EQD_SQL
    ),
    # round-10 additions
    "agg_mad_outlier_days": QuerySpec(
        "agg_mad_outlier_days", agg_mad_outlier_days, _MAD_SQL
    ),
    "events_cooccurrence_lift": QuerySpec(
        "events_cooccurrence_lift", events_cooccurrence_lift, _COOCCUR_SQL
    ),
    "join_asof_nearest": QuerySpec(
        "join_asof_nearest", join_asof_nearest, _ASOF_NEAREST_SQL
    ),
    "src_orc_events": QuerySpec(
        "src_orc_events", src_orc_events, _ORC_SQL
    ),
    "window_rolling_median": QuerySpec(
        "window_rolling_median", window_rolling_median, _ROLLING_MEDIAN_SQL
    ),
    "agg_linreg_trend": QuerySpec(
        "agg_linreg_trend", agg_linreg_trend, _LINREG_SQL
    ),
    "events_cohort_matrix": QuerySpec(
        "events_cohort_matrix", events_cohort_matrix, _COHORT_MATRIX_SQL
    ),
    "events_power_users_pareto": QuerySpec(
        "events_power_users_pareto", events_power_users_pareto, _PARETO_SQL
    ),
    "ts_autocorr_lag": QuerySpec(
        "ts_autocorr_lag", ts_autocorr_lag, _AUTOCORR_SQL
    ),
    # r11: classical additive decomposition
    "ts_seasonal_decompose": QuerySpec(
        "ts_seasonal_decompose", ts_seasonal_decompose, _SEASONAL_SQL
    ),
    # round-12 second-wave addition
    "ts_forecast_seasonal_naive": QuerySpec(
        "ts_forecast_seasonal_naive",
        ts_forecast_seasonal_naive,
        _SEASONAL_NAIVE_SQL,
    ),
    # r13 addition (VERDICT r12 item 7): the forecaster the naive
    # baseline exists to grade
    "ts_forecast_holt_winters": QuerySpec(
        "ts_forecast_holt_winters",
        ts_forecast_holt_winters,
        _HOLT_WINTERS_SQL,
    ),
}
