"""Event-stream queries: windows, sessions, as-of joins, attribution,
funnels, retention and daily time-series over the events table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround2
from data_warehouse_punta_fina_spark.registry.shared import _R6D, _r2, query, sql_of
from data_warehouse_punta_fina_spark.sources.generators import literal_table
from data_warehouse_punta_fina_spark.sources.readers import load_table
from data_warehouse_punta_fina_spark.streaming.file_stream import tumbling_window_agg


@query(f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM({_r2("value")}) AS DECIMAL(18,2)) AS total_value
FROM events GROUP BY 1, 2
""", dec=["total_value"])
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    agg = tumbling_window_agg(events, "1 hour")
    return agg.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


# session-6: linear multi-touch attribution — round-6 decimal weights
# (1/k per touch, 1 for organic), exact decimal channel sums
@query("""
WITH conv AS (SELECT user_id AS u, ts AS cts, event_id AS cid FROM events WHERE event_type = 'purchase'),
tch AS (SELECT user_id AS u, ts AS tts, event_type AS channel FROM events WHERE event_type IN ('view', 'click')),
j AS (
  SELECT conv.cid, tch.channel
  FROM conv LEFT JOIN tch
    ON tch.u = conv.u AND tch.tts <= conv.cts AND tch.tts >= conv.cts - INTERVAL 24 HOURS
),
k AS (
  SELECT cid, COALESCE(channel, 'organic') AS channel,
         COUNT(channel) OVER (PARTITION BY cid) AS kk
  FROM j
),
w AS (
  SELECT cid, channel,
         CASE WHEN kk = 0 THEN CAST(1.0 AS DECIMAL(12,6))
              ELSE CAST(FLOOR(1.0 / CAST(kk AS DOUBLE) * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6)) END AS wgt
  FROM k
)
SELECT channel, CAST(COUNT(DISTINCT cid) AS BIGINT) AS conversions,
       CAST(SUM(wgt) AS DOUBLE) AS credited
FROM w GROUP BY channel
""", dec=["credited"])
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # linear multi-touch attribution: each purchase splits one unit
    # of credit equally over its 24h view/click touches (no touch →
    # 'organic'); round-6 decimal weights make the channel sums exact
    # (operators.behavior.linear_attribution)
    from data_warehouse_punta_fina_spark.operators.behavior import (
        linear_attribution,
    )

    return linear_attribution(load_table(spark, sf_dir, "events"))


# session-6: additive seasonal decomposition — every closing op
# mirrors operators.timeseries.seasonal_decompose exactly (2xMA with
# edge half-weights, phase means over round-6 decimal sums, grand-
# mean re-centering, rounded seasonal reused in the residual)
@query(f"""
WITH wkrev AS (
  SELECT date_trunc('week', o_orderdate) AS wk,
         CAST(SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) / 100 AS DECIMAL(15,2))) AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1
),
b AS (
  SELECT wk, rev, CAST(FLOOR(CAST(rev AS DOUBLE) * 100 + 0.5) AS BIGINT) AS q,
         ROW_NUMBER() OVER (ORDER BY wk) AS rn
  FROM wkrev
),
t AS (
  SELECT *, COUNT(q) OVER w5 AS cnt,
         SUM(q * 2) OVER w5 - FIRST_VALUE(q) OVER w5 - LAST_VALUE(q) OVER w5 AS tot2,
         CAST((rn - 1) % 4 AS INT) AS phase
  FROM b WINDOW w5 AS (ORDER BY wk ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
),
d AS (SELECT *, CASE WHEN cnt = 5 THEN CAST(tot2 AS DOUBLE) / 8.0 END AS trend_i FROM t),
d2 AS (SELECT *, CASE WHEN trend_i IS NOT NULL THEN CAST(q AS DOUBLE) - trend_i END AS det FROM d),
ph AS (
  SELECT phase, SUM(CAST(FLOOR(det * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) AS s, COUNT(*) AS n
  FROM d2 WHERE det IS NOT NULL GROUP BY phase
),
pm AS (SELECT phase, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m FROM ph),
g AS (
  SELECT CAST(SUM(CAST(FLOOR(m * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS gm
  FROM pm
),
se AS (
  SELECT phase, CAST(CAST(FLOOR((m - gm) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE) AS seasonal_q
  FROM pm CROSS JOIN g
)
SELECT CAST(d2.wk AS TIMESTAMP) AS wk, CAST(d2.rev AS DOUBLE) AS rev,
       {_R6D.format(e="trend_i / 100.0")} AS trend,
       {_R6D.format(e="seasonal_q / 100.0")} AS seasonal,
       {_R6D.format(e="(det - seasonal_q) / 100.0")} AS residual
FROM d2 LEFT JOIN se USING (phase)
""", dec=["rev"])
def weekly_revenue_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # classical additive decomposition of the weekly revenue series:
    # value = trend (centered 2x4 MA) + seasonal (re-centered phase
    # means) + residual — the explain-side companion to the
    # revenue_anomaly_weeks screen (operators.timeseries)
    from data_warehouse_punta_fina_spark.operators.timeseries import (
        seasonal_decompose,
    )

    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).alias("wk")
    ).agg(F.sum(pround2("o_totalprice")).cast("decimal(18,2)").alias("rev"))
    return seasonal_decompose(weekly, "wk", "rev", period=4)


# Markov transition counts: lead() over the same (ts, event_id) total
# order in both engines.
@query("""
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, COUNT(*) AS n_transitions
FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
""")
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # behavior transition matrix: (from_type → to_type) counts over
    # each user's time-ordered event sequence — the Markov-chain
    # input for journey modeling; one keyed window (lead), one count
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions")
    )


# RANGE-framed trailing window: epoch-second ORDER BY so both engines
# evaluate the identical numeric range frame; decimal sums exact.
@query(f"""
SELECT event_id, user_id,
       CAST(SUM({_r2("value")}) OVER (
         PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d_value
FROM events
""")
def events_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RANGE-framed window (time-interval frame, not row counts): per
    # user, the trailing-7-day event-value sum at every event. The
    # frame is defined by the ORDER-BY VALUE range, so ties inside
    # the frame contribute symmetrically — order-independent by
    # construction; decimal sums keep it exact.
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_seconds(F.col("ts")))
        .rangeBetween(-7 * 86400, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.sum(pround2("value")).over(w).cast("double").alias("trailing_7d_value"),
    )


# Last-touch attribution: the union-window as-of pattern carrying the
# touch payload; conversions sort after touches at equal (ts) via the
# is_conv key, microsecond-exact 24h lookback in both engines.
@query("""
WITH u AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
m AS (
  SELECT *,
    last_value(CASE WHEN is_conv = 0 THEN event_type END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, is_conv, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tt,
    last_value(CASE WHEN is_conv = 0 THEN ts END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, is_conv, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tts
  FROM u
)
SELECT attributed, COUNT(*) AS n_conversions FROM (
  SELECT CASE WHEN tts IS NOT NULL AND ts - tts <= INTERVAL 86400 SECOND
              THEN tt ELSE 'organic' END AS attributed
  FROM m WHERE is_conv = 1
) GROUP BY attributed
""")
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # last-touch attribution: each purchase credits the latest
    # view/click within 24 h, else 'organic' — the union-window as-of
    # pattern (operators.asof) carrying the touch payload, one window
    # per user, no self-join
    events = load_table(spark, sf_dir, "events")
    u = events.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("_is_conv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "_is_conv", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch_type = F.last(
        F.when(F.col("_is_conv") == 0, F.col("event_type")), ignorenulls=True
    ).over(w)
    touch_ts = F.last(
        F.when(F.col("_is_conv") == 0, F.col("ts")), ignorenulls=True
    ).over(w)
    m = u.withColumn("_tt", touch_type).withColumn("_tts", touch_ts)
    attributed = F.when(
        F.col("_tts").isNotNull()
        & (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_tts"))
            <= F.lit(86400 * 1_000_000)
        ),
        F.col("_tt"),
    ).otherwise(F.lit("organic"))
    return (
        m.filter(F.col("_is_conv") == 1)
        .select(attributed.alias("attributed"))
        .groupBy("attributed")
        .agg(F.count("*").alias("n_conversions"))
    )


# Calendar spine + last-observation-carried-forward: bounds from the
# data, per-user daily series, IGNORE NULLS running last.
@query(f"""
WITH daily AS (
  SELECT user_id, day, v FROM (
    SELECT user_id, CAST(ts AS DATE) AS day, {_r2("value")} AS v,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
spine AS (
  SELECT u.user_id, CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN bounds b
),
j AS (
  SELECT s.user_id, s.day, d.v FROM spine s LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id, day AS fecha,
       CAST(last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS value
FROM j
""")
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # calendar spine + LOCF: daily last value per user, gaps carried
    # forward (operators.asof.gap_fill_locf); nulls before a user's
    # first active day survive (no fabricated history)
    from data_warehouse_punta_fina_spark.operators.asof import gap_fill_locf

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.col("ts").cast("date").alias("fecha")
    ).agg(
        F.max_by(pround2("value"), F.struct("ts", "event_id")).alias("_v")
    )
    filled = gap_fill_locf(daily, "user_id", "fecha", ["_v"])
    return filled.select(
        "user_id", "fecha", F.col("_v").cast("double").alias("value")
    )


# Strict-order funnel: step k = earliest event of its type strictly
# after the user's step k-1 time, every step within 24 h of step 0;
# level = max step reached.
@query("""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
   AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 86400 SECOND
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e
  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
  JOIN s1 ON e.user_id = s1.user_id AND e.ts <= s1.t1 + INTERVAL 86400 SECOND
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
lv AS (
  SELECT user_id, 1 AS l FROM s1
  UNION ALL SELECT user_id, 2 FROM s2
  UNION ALL SELECT user_id, 3 FROM s3
)
SELECT steps_completed, COUNT(*) AS n_users FROM (
  SELECT user_id, CAST(MAX(l) AS INT) AS steps_completed FROM lv GROUP BY user_id
) GROUP BY steps_completed
""")
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # strict-order funnel view→click→purchase within 24 h of the first
    # view: per-user progress, then the per-level user counts
    # (operators.behavior.funnel_progress)
    from data_warehouse_punta_fina_spark.operators.behavior import funnel_progress

    events = load_table(spark, sf_dir, "events")
    prog = funnel_progress(
        events, ["view", "click", "purchase"], within_seconds=86400
    )
    return prog.groupBy("steps_completed").agg(F.count("*").alias("n_users"))


# Weekly retention triangle: ISO-Monday date_trunc in both engines.
@query("""
WITH first AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT CAST(f.cohort AS DATE) AS cohort_week,
       CAST(date_diff('day', f.cohort, a.wk) // 7 AS INT) AS week_offset,
       COUNT(*) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY cohort_week, week_offset
""")
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weekly retention triangle (operators.behavior.retention_cohorts)
    from data_warehouse_punta_fina_spark.operators.behavior import retention_cohorts

    events = load_table(spark, sf_dir, "events")
    return retention_cohorts(events)


# (band, lo, hi) of both events_value_band_rangejoin strategies
_VALUE_BANDS = [
    ("B0_50", 0.0, 50.0),
    ("B50_100", 50.0, 100.0),
    ("B100_250", 100.0, 250.0),
    ("B250_INF", 250.0, 1e18),
]


@query(f"""
WITH bands AS (
  SELECT * FROM (VALUES
    ('B0_50', 0.0, 50.0), ('B50_100', 50.0, 100.0),
    ('B100_250', 100.0, 250.0), ('B250_INF', 250.0, 1e18)
  ) AS t(band, lo, hi)
)
SELECT band, event_type, COUNT(*) AS n,
       CAST(SUM({_r2("value")}) AS DECIMAL(18,2)) AS total_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band, event_type
""", dec=["total_value"])
def events_value_band_rangejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # theta/range join: events.value BETWEEN band.lo AND band.hi.
    # the band table is tiny → broadcast nested-loop, no shuffle of the
    # fact side; at scale with many bands, bucketize the range key into
    # an equi-join (the standard range-join rewrite)
    events = load_table(spark, sf_dir, "events")
    bands = literal_table(spark, _VALUE_BANDS, "band string, lo double, hi double")
    joined = events.join(
        F.broadcast(bands), (events["value"] >= bands["lo"]) & (events["value"] < bands["hi"]), "inner"
    )
    return joined.groupBy("band", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(pround2("value")).cast("decimal(18,2)").alias("total_value"),
    )


# the bucketized rewrite must produce EXACTLY the nested-loop result —
# one oracle proves both physical strategies
@query(sql_of("events_value_band_rangejoin"), dec=["total_value"])
def events_value_band_rangejoin_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SCALE tier of the range join: grid both sides on value/step
    # and equi-join on the cell (residual predicate re-verifies), with
    # an overflow cell capping the open-ended band — same result as
    # the broadcast nested-loop (same oracle proves it), but the band
    # side can be arbitrarily large
    from data_warehouse_punta_fina_spark.operators.rangejoin import bucketed_range_join

    events = load_table(spark, sf_dir, "events")
    bands = literal_table(spark, _VALUE_BANDS, "band string, lo double, hi double")
    joined = bucketed_range_join(events, "value", bands, step=50.0, hi_cap=250.0)
    return joined.groupBy("band", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(pround2("value")).cast("decimal(18,2)").alias("total_value"),
    )


@query(f"""
WITH grid AS (
  SELECT e.*, date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS slot
  FROM events e
), expanded AS (
  SELECT *, unnest([slot, slot - INTERVAL 30 MINUTE]) AS window_start FROM grid
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM({_r2("value")}) AS DECIMAL(18,2)) AS total_value
FROM expanded GROUP BY window_start, event_type
""", dec=["total_value"])
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1-hour windows sliding every 30 min: each event lands in exactly 2
    # windows (duration/slide). Same plan runs incrementally as a stream.
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy(
        F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(pround2("value")).cast("decimal(18,2)").alias("total_value"),
    )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@query(f"""
WITH weekly AS (
  SELECT date_trunc('week', o_orderdate) AS wk,
         CAST(SUM({_r2("o_totalprice")}) AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY 1
),
j AS (
  SELECT w.wk, w.rev, p.rev AS rev_prev,
         CAST(w.rev - p.rev AS DOUBLE) AS residual
  FROM weekly w JOIN weekly p ON w.wk = p.wk + INTERVAL 7 DAY
),
med AS (SELECT quantile_cont(residual, 0.5) AS med FROM j),
dev AS (SELECT j.*, abs(j.residual - m.med) AS absdev FROM j CROSS JOIN med m),
mad AS (SELECT quantile_cont(absdev, 0.5) AS mad FROM dev),
scored AS (
  SELECT d.wk, d.rev, d.rev_prev, d.residual,
         CASE WHEN m.mad > 0 THEN
           CAST(CAST(FLOOR((0.6745 * d.absdev / m.mad) * 1000000 + 0.5) / 1000000 AS DECIMAL(15,6)) AS DOUBLE)
         END AS score,
         CASE WHEN m.mad > 0 THEN
           (CAST(FLOOR((0.6745 * d.absdev / m.mad) * 1000000 + 0.5) / 1000000 AS DECIMAL(15,6)) > 3.5)
         ELSE FALSE END AS is_outlier
  FROM dev d CROSS JOIN mad m
)
SELECT strftime(wk, '%Y-%m-%d') AS week_start, rev, rev_prev, residual, score, is_outlier
FROM scored
""", dec=["rev", "rev_prev"])
def revenue_anomaly_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-series anomaly screen composed from existing operators:
    # weekly revenue -> seasonal-naive residual (vs previous week,
    # gap-proof date join, no row-lag) -> median/MAD robust outlier
    # flags (operators.quality.robust_outliers)
    from data_warehouse_punta_fina_spark.operators.quality import robust_outliers

    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).alias("wk")
    ).agg(F.sum(pround2("o_totalprice")).cast("decimal(18,2)").alias("rev"))
    prev = weekly.select(
        F.expr("wk + INTERVAL 7 DAYS").alias("wk"), F.col("rev").alias("rev_prev")
    )
    res = (
        weekly.join(prev, "wk")
        .withColumn(
            "residual", (F.col("rev") - F.col("rev_prev")).cast("double")
        )
    )
    scored = robust_outliers(res, "residual", z=3.5)
    return scored.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        "rev",
        "rev_prev",
        "residual",
        "score",
        "is_outlier",
    )


@query("""
WITH l AS (SELECT event_id, user_id, CAST(ts AS DATE) AS event_date FROM events),
     r AS (SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS o_date FROM orders)
SELECT l.event_id, l.user_id, l.event_date, r.o_date AS last_order_date
FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.event_date >= r.o_date
""")
def asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    left = events.select("event_id", "user_id", F.to_date("ts").alias("event_date"))
    right = orders.select(F.col("o_custkey"), F.to_date("o_orderdate").alias("o_date"))
    return asof_join(
        left, right, "user_id", "o_custkey", "event_date", "o_date", out="last_order_date"
    )


@query("""
WITH w1 AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER win IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER win > 21600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
), w2 AS (
  SELECT *, CAST(SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_seq
  FROM w1
)
SELECT event_id, user_id, session_seq,
       strftime(MIN(ts) OVER (PARTITION BY user_id, session_seq), '%Y-%m-%d %H:%M:%S') AS session_start
FROM w2
""")
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.asof import sessionize

    events = load_table(spark, sf_dir, "events")
    out = sessionize(events, "user_id", "ts", gap_seconds=6 * 3600, order_tiebreak=["event_id"])
    return out.select(
        "event_id",
        "user_id",
        "session_seq",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


@query(f"""
WITH w1 AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER win IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER win >= 21600000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
), w2 AS (
  SELECT *, SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM w1
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM({_r2("value")}) AS DECIMAL(18,2)) AS total_value
FROM w2 GROUP BY user_id, seq
""", dec=["total_value"])
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # native session_window aggregate — the Structured-Streaming
    # sessionization operator (merging-gap semantics: a new session
    # starts when the inter-event gap is >= 6h; window end = last
    # event + gap). Complements the row-level sessionize() operator
    # (events_sessionized) with the aggregated per-session view.
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy(
        F.session_window("ts", "6 hours").alias("w"), F.col("user_id")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(pround2("value")).cast("decimal(18,2)").alias("total_value"),
    )
    return agg.select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "total_value",
    )


@query(f"""
WITH ordered AS (
  SELECT user_id, {_r2("value")} AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_last,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn_first
  FROM events
)
SELECT user_id, COUNT(*) AS n_events,
       MAX(CASE WHEN rn_last = 1 THEN v END) AS last_value,
       MAX(CASE WHEN rn_first = 1 THEN v END) AS first_value,
       CAST(SUM(v) AS DECIMAL(18,2)) AS total_value
FROM ordered GROUP BY user_id
""", dec=["last_value", "first_value", "total_value"])
def user_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max_by(pround2("value"), F.struct("ts", "event_id")).alias("last_value"),
        F.min_by(pround2("value"), F.struct("ts", "event_id")).alias("first_value"),
        F.sum(pround2("value")).cast("decimal(18,2)").alias("total_value"),
    )


# session-5: merge_asof nearest — the same union+window construction
# in SQL (backward carry time-asc, forward carry time-desc, epoch-us
# deltas, per-direction tolerance BEFORE the nearest tie-break,
# ties prefer backward). last_value IGNORE NULLS carries the right
# row's time and value through the same window, so both columns come
# from the same matched row.
_ASOF_SEC = lambda e: f"CAST(epoch_us({e}) AS DOUBLE) / 1000000.0"  # noqa: E731


@query(f"""
WITH l AS (
  SELECT event_id, user_id AS _k, ts AS _t FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id AS _k, ts AS _t, MAX(value) AS val
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
u AS (
  SELECT _k, _t, 1 AS isl, event_id, CAST(NULL AS DOUBLE) AS val FROM l
  UNION ALL
  SELECT _k, _t, 0, NULL, val FROM r
),
c AS (
  SELECT *,
    last_value(CASE WHEN isl = 0 THEN _t END IGNORE NULLS)
      OVER (PARTITION BY _k ORDER BY _t ASC, isl ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt_b,
    last_value(CASE WHEN isl = 0 THEN val END IGNORE NULLS)
      OVER (PARTITION BY _k ORDER BY _t ASC, isl ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val_b,
    last_value(CASE WHEN isl = 0 THEN _t END IGNORE NULLS)
      OVER (PARTITION BY _k ORDER BY _t DESC, isl ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt_f,
    last_value(CASE WHEN isl = 0 THEN val END IGNORE NULLS)
      OVER (PARTITION BY _k ORDER BY _t DESC, isl ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val_f
  FROM u
),
t AS (
  SELECT event_id, _k AS user_id, _t AS ts,
    CASE WHEN rt_b IS NOT NULL AND ({_ASOF_SEC('_t')} - {_ASOF_SEC('rt_b')}) <= 1800.0 THEN rt_b END AS tb,
    CASE WHEN rt_b IS NOT NULL AND ({_ASOF_SEC('_t')} - {_ASOF_SEC('rt_b')}) <= 1800.0 THEN val_b END AS vb,
    CASE WHEN rt_f IS NOT NULL AND ({_ASOF_SEC('rt_f')} - {_ASOF_SEC('_t')}) <= 1800.0 THEN rt_f END AS tf,
    CASE WHEN rt_f IS NOT NULL AND ({_ASOF_SEC('rt_f')} - {_ASOF_SEC('_t')}) <= 1800.0 THEN val_f END AS vf
  FROM c WHERE isl = 1
)
SELECT event_id, user_id, ts,
  CASE WHEN tb IS NULL THEN tf WHEN tf IS NULL THEN tb
       WHEN ({_ASOF_SEC('ts')} - {_ASOF_SEC('tb')}) <= ({_ASOF_SEC('tf')} - {_ASOF_SEC('ts')}) THEN tb
       ELSE tf END AS pts_asof,
  CASE WHEN tb IS NULL THEN vf WHEN tf IS NULL THEN vb
       WHEN ({_ASOF_SEC('ts')} - {_ASOF_SEC('tb')}) <= ({_ASOF_SEC('tf')} - {_ASOF_SEC('ts')}) THEN vb
       ELSE vf END AS value_asof
FROM t
""")
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # merge_asof NEAREST with tolerance + payload: each click joins
    # the nearest purchase by the same user within 30 minutes,
    # carrying the purchase value (operators.asof.asof_join_values)
    from data_warehouse_punta_fina_spark.operators.asof import asof_join_values

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), "value"
    )
    return asof_join_values(
        clicks,
        purchases,
        "user_id",
        "ts",
        "pts",
        ["value"],
        direction="nearest",
        tolerance_seconds=1800,
    )


def _daily_cents(df: DataFrame, keys: list, ts_col: str, val_col: str) -> DataFrame:
    # shared exact-daily-series helper: per-row cents quantization,
    # int64 daily sums, exposed as double (cents/100 — one division)
    return df.groupBy(
        *keys, F.col(ts_col).cast("date").alias("day")
    ).agg(
        (
            F.sum(F.floor(F.col(val_col) * 100 + F.lit(0.5)).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("_dv")
    )


# α=1/2 EWMA, span 10: integer weights 2^(9-j) on daily int64 cents —
# numerator/denominator exact, one double division, round-6 (mirrors
# operators.timeseries.ewma exactly, lag for lag)
_ewma_num = " + ".join(
    f"COALESCE(g{j} * {1 << (9 - j)}, 0)" if j else f"cents * 512"
    for j in range(10)
)
_ewma_den = " + ".join(
    f"CASE WHEN g{j} IS NULL THEN 0 ELSE {1 << (9 - j)} END" if j else "512"
    for j in range(10)
)
_ewma_lags = ", ".join(f"lag(cents, {j}) OVER w AS g{j}" for j in range(1, 10))


@query(f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
l AS (
  SELECT event_type, day, cents, {_ewma_lags}
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, CAST(cents AS DOUBLE) / 100.0 AS daily_value,
       {_R6D.format(e=f"CAST({_ewma_num} AS DOUBLE) / CAST({_ewma_den} AS DOUBLE) / 100.0")} AS ewma
FROM l
""")
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-type daily value series smoothed with the α=1/2 EWMA —
    # integer-weighted lags, exact cross-engine
    # (operators.timeseries.ewma)
    from data_warehouse_punta_fina_spark.operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    daily = _daily_cents(ev, ["event_type"], "ts", "value").withColumnRenamed(
        "_dv", "daily_value"
    )
    return ewma(daily, "day", "daily_value", span=10, series_cols=["event_type"])


# offline CUSUM: deviations scaled by n (n·x − Σx) keep the running
# sum exact int64; the peak-|cusum| flag is an integer comparison
@query(f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
st AS (SELECT CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS n FROM daily),
c AS (
  SELECT day, cents, n,
         CAST(SUM(n * cents - s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
  FROM daily, st
),
m AS (SELECT *, MAX(ABS(cn)) OVER () AS mx FROM c)
SELECT day, CAST(cents AS DOUBLE) / 100.0 AS revenue,
       {_R6D.format(e="CAST(cn AS DOUBLE) / CAST(n AS DOUBLE) / 100.0")} AS cusum,
       (ABS(cn) = mx AND mx > 0) AS is_changepoint
FROM m
""")
def revenue_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # offline CUSUM changepoint screen on the daily revenue series:
    # |cumulative deviation| peaks at the most likely level shift
    # (operators.timeseries.cusum_changepoint; exact int64 cusum)
    from data_warehouse_punta_fina_spark.operators.timeseries import (
        cusum_changepoint,
    )

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(orders, [], "o_orderdate", "o_totalprice").withColumnRenamed(
        "_dv", "revenue"
    )
    return cusum_changepoint(daily, "day", "revenue")


# linear interpolation of gap days: floor-division blend between the
# previous/next anchors; edges backfill/carry (mirrors
# operators.timeseries.interpolate_linear)
@query("""
WITH ev AS (SELECT * FROM events
            WHERE event_type = 'purchase' AND value > 90 AND user_id % 23 = 0),
daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM ev GROUP BY 1
),
b AS (SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM ev),
spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
g AS (SELECT s.day, d.cents FROM spine s LEFT JOIN daily d USING (day)),
f AS (
  SELECT day, cents,
         last_value(cents IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS pt,
         first_value(cents IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS nt
  FROM g
  WINDOW wb AS (ORDER BY day ROWS UNBOUNDED PRECEDING),
         wf AS (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT day,
       CAST(CASE WHEN cents IS NOT NULL THEN cents
                 WHEN pv IS NULL THEN nv
                 WHEN nv IS NULL THEN pv
                 ELSE pv + CAST(FLOOR(CAST((nv - pv) * date_diff('day', pt, day) AS DOUBLE)
                                      / CAST(date_diff('day', pt, nt) AS DOUBLE)) AS BIGINT)
            END AS DOUBLE) / 100.0 AS value,
       (cents IS NULL) AS interpolated
FROM f
""")
def events_interpolated_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # linear interpolation of gap days in a sparse daily series (the
    # refinement over LOCF gap-fill): calendar spine from the data's
    # own bounds, missing days get the floor-division linear blend
    # (operators.timeseries.interpolate_linear)
    from data_warehouse_punta_fina_spark.operators.timeseries import (
        interpolate_linear,
    )

    # value>90 + a user-id stride keeps the series SPARSE at every SF
    # (16/30 days populated at sf0.01) so the interpolation branch is
    # genuinely exercised by the driver gate, not just the spine join
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & (F.col("value") > 90)
        & (F.col("user_id") % 23 == 0)
    )
    daily = _daily_cents(ev, [], "ts", "value").withColumnRenamed("_dv", "v")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    grid = spine.join(daily, "day", "left")
    out = interpolate_linear(grid, "day", "v")
    return out.select("day", F.col("v").alias("value"), "interpolated")


# session symbol-string pattern match: same gap sessionization as
# operators.asof.sessionize (exact integer microseconds), ordered
# string_agg, non-overlapping leftmost regex count
@query("""
WITH base AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
),
lagd AS (
  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM base
),
flag AS (
  SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 21600 * CAST(1000000 AS BIGINT)
                 THEN 1 ELSE 0 END AS nf
  FROM lagd
),
ses AS (
  SELECT *, CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
  FROM flag
),
symed AS (
  SELECT user_id, session_seq, ts, event_id,
         CASE event_type WHEN 'click' THEN 'c' WHEN 'view' THEN 'v'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
              WHEN 'error' THEN 'e' ELSE '_' END AS sym
  FROM ses
),
agg AS (
  SELECT user_id, session_seq, MIN(ts) AS session_start, COUNT(*) AS n_events,
         string_agg(sym, '' ORDER BY ts, event_id) AS seq
  FROM symed GROUP BY 1, 2
)
SELECT user_id, session_seq,
       strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       n_events,
       CAST(len(regexp_extract_all(seq, 'c[ves]*p')) AS BIGINT) AS n_matches
FROM agg
WHERE len(regexp_extract_all(seq, 'c[ves]*p')) > 0
  AND n_events <= 10000
""")
def events_purchase_path_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MATCH_RECOGNIZE-lite: sessions containing click → purchase with
    # only view/error/signup between, counted as non-overlapping
    # regex matches over the session's ordered symbol string
    # (operators.patterns.session_pattern_match)
    from data_warehouse_punta_fina_spark.operators.patterns import (
        session_pattern_match,
    )

    ev = load_table(spark, sf_dir, "events")
    out = session_pattern_match(
        ev,
        "user_id",
        "ts",
        "event_type",
        {"click": "c", "view": "v", "purchase": "p", "signup": "s", "error": "e"},
        "c[ves]*p",
        gap_seconds=6 * 3600,
        tiebreak=["event_id"],
    )
    return out.select(
        "user_id",
        "session_seq",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        "n_matches",
    )


# rolling 7-day DAU: every (user, day) feeds the 7 trailing windows
# it belongs to; count-distinct per window day, clipped to the
# observed range
@query("""
WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
b AS (SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events),
expanded AS (
  SELECT user_id, CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE) AS wday
  FROM du
)
SELECT wday AS day, COUNT(DISTINCT user_id) AS dau_7d
FROM expanded, b
WHERE wday >= lo AND wday <= hi
GROUP BY 1
""")
def events_trailing_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rolling 7-day distinct active users per day: each (user, day)
    # contributes to the 7 trailing windows it falls in (explode a
    # 7-day sequence), then one count-distinct per day — no
    # data-sized range self-join, no window over raw events
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    expanded = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
    )
    counts = expanded.groupBy("wday").agg(
        F.count_distinct("user_id").alias("dau_7d")
    )
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    return (
        counts.crossJoin(F.broadcast(bounds))
        .filter((F.col("wday") >= F.col("lo")) & (F.col("wday") <= F.col("hi")))
        .select(F.col("wday").alias("day"), "dau_7d")
    )
