"""Event-stream analytics over the ``events`` table.

The reference has no streaming at all (SURVEY.md §2.12); this is the
additive surface. The batch formulations here are oracle-checked; the
Structured Streaming twins (same logical transforms over readStream) live
in :mod:`..streaming.events` and are covered by tests.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_bigdata_sars_cov_2_analysis_spark.plans.fragments import (
    SCD2_TEMPORAL_JOIN_SQL,
)
from pyspark_bigdata_sars_cov_2_analysis_spark.plans.registry import (
    tracked_cache,
    pround,
    query,
    sql_round,
    table,
)


@query(
    "e01_tumbling_window",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n, {sql_round("SUM(value)", 2)} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def e01_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour window agg — the batch twin of the streaming
    watermarked window. Delegates to the streaming function itself (the
    e06 pattern: ``withWatermark`` is a no-op on a batch frame), so the
    window/agg/select shape exists once for both execution modes."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.streaming.events import (
        tumbling_counts,
    )

    return tumbling_counts(table(spark, sf_dir, "events"))


def _sessionized(e):
    """The 30-minute-gap sessionization (lag + running sum) SHARED by
    e02 and e13, so the gap constant and the boundary rule (``diff >
    gap`` keeps an exactly-at-gap event in-session) live in exactly one
    place — two drifting copies of the session definition would let one
    query's sessions silently disagree with the other's. Input needs
    (user_id, event_id, us) plus any passenger columns; output appends
    ``session_id`` (1-based per user, arrival-ordered)."""
    order = [F.asc("us"), F.asc("event_id")]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 1800 * 1_000_000
    marked = e.withColumn(
        "new_session",
        F.when(
            F.col("us") - F.lag("us").over(w_lag) > gap_us, 1
        ).otherwise(F.when(F.lag("us").over(w_lag).isNull(), 1).otherwise(0)),
    )
    return marked.withColumn(
        "session_id", F.sum("new_session").over(w_run).cast("bigint")
    )


@query(
    "e02_sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                       OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, event_id, us,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                  ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM marked)
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(us) AS session_start_us,
           MAX(us) - MIN(us) AS duration_us
    FROM sessions GROUP BY user_id, session_id
    """,
)
def e02_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the batch twin of streaming session_window()."""
    sessions = _sessionized(
        table(spark, sf_dir, "events").select(
            "user_id", "event_id", F.unix_micros("ts").alias("us")
        )
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("session_start_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


@query(
    "e09_session_window_native",
    # the same sessions as e02's lag+running-sum, keyed by their start:
    # the oracle re-derives them relationally, proving Spark's BUILT-IN
    # session_window aggregation ≡ the SQL formulation. (Boundary note:
    # session_window treats an event at exactly start+gap as a NEW
    # session while e02's `diff > gap` keeps it — microsecond-resolution
    # event times make an exact-boundary pair measure-zero, and the
    # hash compare would catch one loudly.)
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                       OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, us,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                  ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM marked)
    SELECT user_id, MIN(us) AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def e09_session_window_native(spark, sf_dir):
    """Gap-based sessionization via Spark's built-in ``session_window``
    aggregation IN BATCH — the same native operator the streaming path
    uses (streaming/events.sessionized), here attested against e02's
    relational lag+running-sum derivation. At scale the native form is
    one session-merging hash aggregate (map-side partial session merge)
    versus e02's two windows + aggregate — fewer passes, same answer."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return g.select(
        "user_id",
        F.unix_micros("sw.start").alias("session_start_us"),
        "n_events",
    )


@query(
    "e03_dedup_latest_state",
    oracle=f"""
    SELECT user_id, event_id, event_type, {sql_round("value", 2)} AS value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def e03_dedup_latest_state(spark, sf_dir):
    """Latest-event-per-user (stateful-dedup batch twin; keyed state in the
    streaming variant)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", pround(F.col("value"), 2).alias("value"))
    )


@query(
    "e04_sliding_window",
    oracle=f"""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n, {sql_round("SUM(value)", 2)} AS total_value
    FROM (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                     time_bucket(INTERVAL '30 minutes', ts)]) AS ws,
             event_type, value
      FROM events
    )
    GROUP BY ws, event_type
    """,
)
def e04_sliding_window(spark, sf_dir):
    """Sliding 1-hour/30-min hopping window agg — batch twin of
    streaming/events.sliding_counts (each event contributes to
    width/slide = 2 windows). Delegates to the streaming function (the
    e01/e06 pattern)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.streaming.events import (
        sliding_counts,
    )

    return sliding_counts(table(spark, sf_dir, "events"))


@query(
    "e05_user_totals",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events, {sql_round("SUM(value)", 2)} AS total_value
    FROM events GROUP BY user_id
    """,
)
def e05_user_totals(spark, sf_dir):
    """Per-user lifetime totals — the batch twin of the custom stateful
    streaming operator (streaming/events.running_user_totals)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        pround(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "e06_view_purchase_attribution",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
    """,
)
def e06_view_purchase_attribution(spark, sf_dir):
    """Interval self-join (view→purchase attribution ≤ 30 min) — batch twin
    of the watermarked stream-stream join
    (streaming/events.view_purchase_attribution)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.streaming.events import (
        view_purchase_attribution,
    )

    e = table(spark, sf_dir, "events")
    return view_purchase_attribution(e)


@query(
    "e10_view_purchase_outer",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
    FROM v LEFT JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
    """,
)
def e10_view_purchase_outer(spark, sf_dir):
    """LEFT OUTER interval self-join — batch twin of the r7 outer
    stream-stream join (streaming/events.view_purchase_attribution_outer):
    every view appears, null-extended if it never converts. The streaming
    variant's emit-on-eviction subset relation to THIS frame is pinned in
    tests/test_streaming_outer.py; the oracle here makes the outer-join
    family hash-attested in its own right."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.streaming.events import (
        view_purchase_attribution_outer,
    )

    e = table(spark, sf_dir, "events")
    return view_purchase_attribution_outer(e).drop("v_ts")


@query(
    "j06_asof_join",
    oracle="""
    WITH v AS (
        SELECT user_id, ts, MAX(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id,
           v.view_id AS last_view_id,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def j06_asof_join(spark, sf_dir):
    """As-of join: each purchase picks up the same user's most recent view
    at-or-before it (unbounded lookback — contrast e06's bounded interval
    join). Runs through operators/joins.asof_join — union+window, one
    shuffle, no row fan-out; the oracle is DuckDB's native ASOF LEFT JOIN.
    The view side is pre-aggregated to one row per (user, instant) so the
    "latest" is deterministic in both engines."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.joins import asof_join

    e = table(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    out = asof_join(p, v, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["view_id"])
    return out.select(
        "user_id",
        "purchase_id",
        F.col("view_id_asof").alias("last_view_id"),
        (F.unix_micros("ts") - F.unix_micros("ts_asof"))
        .cast("bigint")
        .alias("gap_us"),
    )


@query(
    "j13_asof_nearest",
    # DuckDB spells nearest-either-direction as TWO native ASOF joins
    # (>= backward, <= forward) + a CASE pick; Spark computes both
    # candidates from ONE window sort. Tie (equidistant) → preceding,
    # the merge_asof 'nearest' rule both sides implement.
    oracle="""
    WITH v AS (
        SELECT user_id, ts, MAX(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    b AS (
        SELECT p.user_id, p.purchase_id, p.ts,
               v.view_id AS b_id, v.ts AS b_ts
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    ),
    f AS (
        SELECT p.user_id, p.purchase_id,
               v.view_id AS f_id, v.ts AS f_ts
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND p.ts <= v.ts
    )
    SELECT b.user_id, b.purchase_id,
           CASE WHEN b_id IS NULL THEN f_id
                WHEN f_id IS NULL THEN b_id
                WHEN epoch_us(f_ts) - epoch_us(b.ts)
                     < epoch_us(b.ts) - epoch_us(b_ts) THEN f_id
                ELSE b_id END AS nearest_view_id,
           CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
                WHEN b_id IS NULL THEN
                  CAST(epoch_us(b.ts) - epoch_us(f_ts) AS BIGINT)
                WHEN f_id IS NULL THEN
                  CAST(epoch_us(b.ts) - epoch_us(b_ts) AS BIGINT)
                WHEN epoch_us(f_ts) - epoch_us(b.ts)
                     < epoch_us(b.ts) - epoch_us(b_ts) THEN
                  CAST(epoch_us(b.ts) - epoch_us(f_ts) AS BIGINT)
                ELSE CAST(epoch_us(b.ts) - epoch_us(b_ts) AS BIGINT)
           END AS signed_gap_us
    FROM b JOIN f USING (user_id, purchase_id)
    """,
)
def j13_asof_nearest(spark, sf_dir):
    """As-of NEAREST join (r10) — j06's either-direction completion:
    each purchase picks the same user's closest view by |Δt|, before OR
    after, ties to the preceding one (pandas ``merge_asof
    direction='nearest'``). Runs through
    ``operators/joins.asof_join_nearest``: the same tagged-union single
    keyed window sort as j06's backward form, read through two frames
    (last-preceding + first-following struct) and a row-local distance
    pick — one shuffle, zero fan-out, where the naive formulation
    explodes each purchase against the user's whole view history. The
    oracle needs TWO native DuckDB ASOF joins plus a CASE to say the
    same thing. ``signed_gap_us`` is positive when the view precedes
    the purchase — the sign IS the chosen direction, so it rides the
    hash."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.joins import (
        asof_join_nearest,
    )

    e = table(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    out = asof_join_nearest(
        p, v, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["view_id"],
    )
    return out.select(
        "user_id",
        "purchase_id",
        F.col("view_id_nearest").alias("nearest_view_id"),
        (F.unix_micros("ts") - F.unix_micros("ts_nearest"))
        .cast("bigint")
        .alias("signed_gap_us"),
    )


@query(
    "j07_range_join_binned",
    oracle="""
    SELECT p.event_id AS purchase_id,
           COUNT(v.event_id) AS co_views
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT event_id, ts FROM events WHERE event_type = 'view') v
      ON v.ts >= p.ts - INTERVAL '2 minutes'
     AND v.ts <= p.ts + INTERVAL '2 minutes'
    GROUP BY p.event_id
    """,
)
def j07_range_join_binned(spark, sf_dir):
    """Pure range join (NO equi key): for each purchase, count ALL views
    site-wide within ±2 minutes — co-occurrence density at purchase time.
    Runs through operators/joins.binned_range_join: the interval is
    quantized to 2-minute bins and equi-joined on the bin, so Catalyst
    gets a shuffle hash join where the naive theta-join would be a
    BroadcastNestedLoopJoin (O(|P|x|V|) — dead at 100 TB). Inner-join
    semantics: purchases with zero co-views don't appear (matches the
    oracle's plain JOIN)."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.operators.joins import (
        binned_range_join,
    )

    e = table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    matched = binned_range_join(
        p,
        v,
        left_lo=F.col("p_ts") - F.expr("INTERVAL 2 MINUTES"),
        left_hi=F.col("p_ts") + F.expr("INTERVAL 2 MINUTES"),
        right_point=F.col("v_ts"),
        bin_width_us=2 * 60 * 1_000_000,
    )
    return matched.groupBy("purchase_id").agg(
        F.count("view_id").alias("co_views")
    )


@query(
    "e07_segment_window",
    oracle=f"""
    SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           c.c_mktsegment AS segment, COUNT(*) AS n,
           {sql_round("SUM(e.value)", 2)} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def e07_segment_window(spark, sf_dir):
    """Dimension-enriched windowed aggregation — batch twin of the
    stream-static broadcast join (streaming/events.segment_window_counts).
    The customer dim broadcasts; the only shuffle is the (window, segment)
    aggregate of pre-joined rows."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.streaming.events import (
        segment_window_counts,
    )

    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    return segment_window_counts(e, c)


@query(
    "e08_gapfill_daily",
    oracle="""
    WITH span AS (
      SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS lo,
             CAST(date_trunc('day', MAX(ts)) AS DATE) AS hi
      FROM events
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT strftime(spine.day, '%Y-%m-%d') AS day,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def e08_gapfill_daily(spark, sf_dir):
    """Calendar gap-fill: daily event counts with EVERY day of the span
    present, zero for silent days — the completeness contract time-series
    consumers (forecasters, anomaly detectors) assume and raw GROUP BY
    silently breaks. Spark-first: the day spine is
    explode(sequence(min_day, max_day)) off a 1-row aggregate — a
    broadcast-joined calendar, not a recursive CTE and not a driver-side
    date loop; the only real shuffle is the daily aggregate of facts."""
    e = table(spark, sf_dir, "events")
    span = e.agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("lo"),
        F.date_trunc("day", F.max("ts")).cast("date").alias("hi"),
    )
    spine = span.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(daily, on="day", how="left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@query(
    "e11_funnel_conversion",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_after_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_after_click,
           {sql_round("(SELECT COUNT(*) FROM c) * 1.0 / (SELECT COUNT(*) FROM v)", 4)}
             AS view_to_click,
           {sql_round("(SELECT COUNT(*) FROM p) * 1.0 / (SELECT COUNT(*) FROM c)", 4)}
             AS click_to_purchase
    """,
)
def e11_funnel_conversion(spark, sf_dir):
    """Product-analytics staple — STRICTLY ORDERED funnel conversion:
    a user counts for step N+1 only with an event AFTER their step-N
    time (first view → first later click → first later purchase), which
    plain per-type counts get wrong (a purchase before any view is not
    a conversion). Shape: three per-user min-aggregates, each joined to
    the previous step's 1-row-per-user frame ON user_id — every shuffle
    is keyed on user_id so the exchanges reuse one partitioning, and
    step frames only ever shrink. The funnel totals are 1-row aggregates
    crossed together (the scalar-subquery execution shape). Each step
    frame is CACHED: every one has two consumers (the next step's join
    and its own count), and without the barrier Catalyst re-expands the
    defining subtree per consumer — the uncached plan re-scanned events
    12 times (v's scan+aggregate alone re-ran six times); cached, each
    step costs exactly one scan+exchange and the frames are tiny
    (1 row per surviving user, two columns)."""
    e = table(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    v = tracked_cache(v)
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    c = tracked_cache(c)
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    p = tracked_cache(p)
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_after_view"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
    out = nv.crossJoin(nc).crossJoin(np_)
    return out.select(
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        pround(
            F.col("n_click_after_view") * 1.0 / F.col("n_view"), 4
        ).alias("view_to_click"),
        pround(
            F.col("n_purchase_after_click") * 1.0 / F.col("n_click_after_view"),
            4,
        ).alias("click_to_purchase"),
    )


@query(
    "e12_retention_cohorts",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id,
             (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS w
      FROM events),
    cohort AS (SELECT user_id, MIN(w) AS c FROM wk GROUP BY user_id)
    SELECT CAST(cohort.c AS BIGINT) AS cohort_week,
           CAST(wk.w - cohort.c AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT wk.user_id) AS BIGINT) AS n_active
    FROM wk JOIN cohort ON wk.user_id = cohort.user_id
    GROUP BY 1, 2
    """,
)
def e12_retention_cohorts(spark, sf_dir):
    """Product-analytics staple — weekly retention cohorts: users
    bucketed by first-seen epoch-week, then for each (cohort, week
    offset) the count of still-active users — the triangular retention
    matrix every growth dashboard renders. Shape: ONE distinct over
    (user, week) (the only big shuffle — raw events collapse to at most
    users×weeks rows), the per-user cohort is an aggregate over that
    same user-keyed frame (partitioning reused, no extra exchange
    class), joined back on user_id, final rollup on the tiny
    (cohort, offset) grid. Epoch-week ints (``div 7`` on epoch-days)
    keep the bucketing closed-form and identical cross-engine — no
    date_trunc('week') semantics to reconcile. ``wk`` is cached: both
    the cohort aggregate and the join consume it, and without the
    barrier the events scan + distinct ran twice (the e11 lesson — the
    frame is at most users×weeks rows of two ints)."""
    e = table(spark, sf_dir, "events")
    wk = tracked_cache(e.select(
        "user_id", F.expr("unix_date(to_date(ts)) div 7").alias("w")
    ).distinct())
    cohort = wk.groupBy("user_id").agg(F.min("w").alias("c"))
    return (
        wk.join(cohort, "user_id")
        .groupBy(
            F.col("c").cast("bigint").alias("cohort_week"),
            (F.col("w") - F.col("c")).cast("bigint").alias("week_offset"),
        )
        # count, not countDistinct: wk is distinct on (user_id, w) and a
        # user's cohort is functionally determined by user_id, so each
        # user appears at most once per (cohort, offset) group — the
        # distinct-aggregate expand pass would re-dedup for free nothing
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "e13_session_conversion",
    # e02's sessionization CTE extended with per-session ordered
    # conversion: a session converts iff some purchase follows the
    # session's FIRST view (strictly later, e11's step rule in-session)
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                       OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, event_id, event_type, us,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                  ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM marked),
    per_session AS (
      SELECT user_id, session_id,
             MIN(CASE WHEN event_type = 'view' THEN us END) AS first_view,
             MAX(CASE WHEN event_type = 'purchase' THEN us END)
               AS last_purchase
      FROM sessions GROUP BY user_id, session_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(first_view) AS BIGINT) AS n_with_view,
           CAST(COUNT(CASE WHEN last_purchase > first_view THEN 1 END)
                AS BIGINT) AS n_converted
    FROM per_session
    """,
)
def e13_session_conversion(spark, sf_dir):
    """Session analytics composition — PER-SESSION conversion: e11's
    ordered-step rule applied inside e02's 30-minute sessions (a
    purchase strictly after the session's first view), the
    within-one-visit conversion metric next to e11's lifetime funnel.
    The per-session step check is ONE conditional aggregate over the
    already-sessionized frame (min view time, max purchase time — the
    comparison needs no join because both live in the same group), so
    the whole query adds zero exchanges beyond e02's sessionization."""
    sessions = _sessionized(
        table(spark, sf_dir, "events").select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
        )
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "first_view"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.col("us"))).alias(
            "last_purchase"
        ),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("first_view").alias("n_with_view"),
        F.count(
            F.when(F.col("last_purchase") > F.col("first_view"), 1)
        ).alias("n_converted"),
    )


@query(
    "e14_view_purchase_full_outer",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT COALESCE(v.user_id, p.user_id) AS user_id,
           v.event_id AS view_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
    FROM v FULL JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
    """,
)
def e14_view_purchase_full_outer(spark, sf_dir):
    """FULL OUTER interval self-join — the last stream-stream join type
    (inner e06, left outer e10, full outer here): unconverted views
    null-extend on the purchase side AND orphan purchases (no view in
    their 30-minute lookback) null-extend on the view side — the
    both-directions reconciliation j08 runs on keys, applied to event
    intervals. Batch twin of the streaming variant's
    ``how="full_outer"`` mode; the user key coalesces across sides."""
    from pyspark_bigdata_sars_cov_2_analysis_spark.streaming.events import (
        view_purchase_attribution_outer,
    )

    e = table(spark, sf_dir, "events")
    return view_purchase_attribution_outer(e, how="full_outer").drop("v_ts")


@query(
    "e16_scd2_stream_enrichment",
    # j09's oracle verbatim: the streaming drain through the native
    # parquet file sink must reproduce the batch temporal join exactly
    oracle=SCD2_TEMPORAL_JOIN_SQL,
)
def e16_scd2_stream_enrichment(spark, sf_dir):
    """Streaming SCD2 enrichment through the NATIVE parquet file sink
    (r10) — two surfaces in one attestation: (1) a micro-batch stream
    joined to a TEMPORAL dimension (w08's validity intervals) with the
    equi-key + interval predicate, so every streamed fact picks up the
    attribute valid AT ITS EVENT TIME — j09's semantics under
    streaming execution (stream-static joins re-plan the static side
    per micro-batch, the shape that keeps dimension refreshes visible
    mid-stream); (2) Spark's built-in ``format('parquet')`` STREAMING
    sink, whose ``_spark_metadata`` commit log is the engine's own
    exactly-once file protocol — the read-back lists committed files
    from the log, not the directory, so torn batch output is
    unobservable (the native counterpart of the jsonl sink's manifest
    protocol and the snapshot tables' MVCC manifests). The drained,
    enriched rows re-aggregate to j09's exact batch answer — the
    streaming==batch equivalence hashed under the driver gate.
    Construction-time drain in a scratch dir, d19/d20's precedent."""
    import os as _os
    import tempfile

    from pyspark_bigdata_sars_cov_2_analysis_spark.plans.extended import (
        w08_scd2_intervals,
    )

    e = table(spark, sf_dir, "events")
    dim = w08_scd2_intervals(spark, sf_dir).select(
        F.col("user_id").alias("dim_user"),
        F.col("attr").alias("regime_attr"),
        F.to_date("valid_from").alias("vf"),
        F.to_date("valid_to").alias("vt"),
    )
    tmp = tempfile.mkdtemp(prefix="spark_graft_e16_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    _os.makedirs(src)
    cols = e.select("event_id", "user_id", "event_type", "ts")
    cols.where(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # explicit mtimes, not a sleep (ADVICE r10): FileStreamSource orders
    # files by modTime, and on a 1s-granularity filesystem a sleep-based
    # gap can tie, making the hashed version↔batch binding
    # nondeterministic
    first = set(_os.listdir(src))
    for n in first:
        _os.utime(_os.path.join(src, n), (1_700_000_000, 1_700_000_000))
    cols.where(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    for n in set(_os.listdir(src)) - first:
        _os.utime(_os.path.join(src, n), (1_700_000_100, 1_700_000_100))
    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    d = F.to_date("ts")
    enriched = stream.join(
        dim,
        (F.col("user_id") == F.col("dim_user"))
        & (d >= F.col("vf"))
        & (F.col("vt").isNull() | (d <= F.col("vt"))),
    ).select("event_id", "event_type", "regime_attr")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError("availableNow drain timed out")
    # the batch read of `out` honors _spark_metadata: only files the
    # sink's commit log published are listed
    return (
        spark.read.schema(
            "event_id bigint, event_type string, regime_attr string"
        )
        .parquet(out)
        .groupBy("regime_attr", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "e17_statestore_keys",
    # every distinct user must appear as exactly ONE state key, and the
    # checkpoint's metadata must name exactly one dedupe operator. A
    # dedup whose state dropped a key (row count), kept duplicates
    # (n_state), or whose checkpoint lost the operator (n_dedupe_ops)
    # all flip the hash.
    oracle="""
    SELECT user_id, CAST(1 AS BIGINT) AS n_state,
           CAST(1 AS BIGINT) AS n_dedupe_ops
    FROM (SELECT DISTINCT user_id FROM events)
    """,
)
def e17_statestore_keys(spark, sf_dir):
    """Spark 4's ``statestore`` / ``state-metadata`` READERS under the
    driver gate (r11, VERDICT r10 stretch) — the "what is my streaming
    state right now" diagnostic a 100 TB deployment runs before state
    grows unbounded, previously test-only. An availableNow
    ``dropDuplicates(user_id)`` drain builds keyed dedup state in a
    scratch checkpoint; the statestore reader then exposes the state
    KEYS as a DataFrame, which must be exactly the batch-distinct user
    ids (one state row each), and the state-metadata reader must list
    exactly one dedupe operator for the checkpoint. Both readers'
    output rides the hash against an oracle recomputed from the source
    table. Construction-time drain in a per-call temp dir, the
    d19/e15 precedent; the state frame is keys-only (never event
    payloads), so the read side is tiny regardless of corpus scale."""
    import os as _os
    import tempfile

    e = table(spark, sf_dir, "events").select("user_id")
    tmp = tempfile.mkdtemp(prefix="spark_graft_e17_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    _os.makedirs(src)
    e.coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema("user_id bigint")
        .parquet(src)
        .dropDuplicates(["user_id"])
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise TimeoutError("availableNow drain timed out")
    keys = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(F.col("key.user_id").alias("user_id"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_state"))
    )
    meta = (
        spark.read.format("state-metadata")
        .load(ckpt)
        .where(F.lower(F.col("operatorName")).contains("dedupe"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dedupe_ops"))
    )
    return keys.crossJoin(F.broadcast(meta))
