"""Event/stream analytics over the ``events`` table — the batch twin of
the streaming surface (SURVEY §2.6 S13).

The reference's only streaming element is the Logstash file-tail into a
daily-rotated Elasticsearch index (logstash.conf:1-13) — a daily tumbling
window. These queries define the windowing semantics as *batch*
transforms; ``streaming/loganalytics.py`` reuses the same transform
functions under ``readStream`` so the oracle-checked batch results pin
the streaming behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .analytics import set_pairs

Tables = dict[str, DataFrame]


def daily_event_counts(t: Tables) -> DataFrame:
    """S13: daily tumbling window × event_type — the reference's
    per-day index rotation as a groupBy(window(...)). Window start is
    emitted as an ISO string to keep the oracle primitive."""
    return daily_counts_transform(t["events"])


def daily_counts_transform(events: DataFrame) -> DataFrame:
    """Shared batch/stream transform (imported by streaming module)."""
    return (
        events.groupBy(
            F.window("ts", "1 day").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


DAILY_EVENT_COUNTS_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def hourly_user_activity(t: Tables) -> DataFrame:
    """Hourly tumbling window with exact distinct users — the
    two-phase distinct keeps it partial-aggregatable at scale."""
    return (
        t["events"]
        .groupBy(F.date_format("ts", "yyyy-MM-dd HH").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


HOURLY_USER_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""


def sessionize(t: Tables, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: a new session starts after a >30 min silence per
    user (lag → gap flag → running sum). The batch spelling of
    session_window/applyInPandasWithState; one shuffle on user_id.
    Output: per-user session count + event totals."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros, not unix_timestamp: the gap must be measured on the
    # exact timestamp — unix_timestamp() TRUNCATES to whole seconds,
    # which silently disagrees with both the oracle and Spark's own
    # native session_window once timestamps carry sub-second precision
    # (invisible on the second-granular driver data; caught by the sf1
    # parity census, whose generated events are microsecond-grained).
    # (unix_micros needs TIMESTAMP; the NTZ column converts under the
    # UTC session timezone run_query pins, and the gap is a DIFFERENCE,
    # so the fixed offset cancels either way)
    mus = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = mus - F.lag(mus).over(w)
    is_new = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    sessions = t["events"].withColumn(
        "session_id", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sessions.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM numbered GROUP BY 1
"""


def json_props_stats(t: Tables) -> DataFrame:
    """Semi-structured extraction: pull ``$.k`` out of the JSON props
    column (get_json_object → JVM-side JSON path, no UDF) and aggregate."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


JSON_PROPS_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY 1
"""


def value_quantiles(t: Tables) -> DataFrame:
    """X5: exact quantiles of event value per type. Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear-
    interpolation definition; inputs are 2-dp doubles so the interpolated
    result is deterministic. (percentile_approx is the at-scale variant —
    sketch-based, engine-specific, so the exact form is what's oracled.)"""
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
        )
    )


VALUE_QUANTILES_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75
FROM events GROUP BY 1
"""


def session_window_counts(t: Tables) -> DataFrame:
    """Native session windows (gap-merged, 30 min) — Spark's built-in
    stateful-session operator in its batch form, checked against the
    same portable lag/cumsum oracle as :func:`sessionize`. Exact-gap
    boundary: Spark's session_window MERGES an event landing exactly at
    prev + 30 min (verified empirically; window end = last event +
    gap, closed), which is precisely the oracle's ``diff > 1800`` rule
    — a fixture row at the exact boundary pins this in pytest."""
    per_session = (
        t["events"]
        .groupBy(
            F.session_window("ts", "30 minutes").alias("sw"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("sess_events"))
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("sess_events").cast("long").alias("n_events"),
    )


SESSION_WINDOW_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM numbered GROUP BY 1
"""


def asof_purchase_click(t: Tables) -> DataFrame:
    """As-of join (custom operator — SURVEY §2.8 north-star): each
    purchase event picks up the user's most recent click at-or-before
    it. Window spelling in operators/temporal.py; one shuffle on
    user_id, no join explosion."""
    from ..operators.temporal import asof_join

    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), "value"
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_id", "value"],
    )
    return out.select(
        "event_id", "user_id",
        F.col("asof_click_id").alias("last_click_id"),
        F.col("asof_value").alias("last_click_value"),
    )


ASOF_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, event_id AS click_id, value FROM events
  WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
       c.click_id AS last_click_id,
       c.value AS last_click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def range_join_events(t: Tables) -> DataFrame:
    """Bucketized range join (custom operator): (purchase, click) pairs
    from the same user within 10 minutes of each other. Equi-join on
    (user, time-bin) with a 3-bin probe — bounded shuffle, never the
    BroadcastNestedLoopJoin a raw inequality join would plan."""
    from ..operators.temporal import bucketized_range_join

    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
    )
    joined = bucketized_range_join(
        purchases,
        clicks.withColumnRenamed("c_user", "user_id"),
        on="user_id", left_ts="p_ts", right_ts="c_ts",
        max_gap_seconds=600,
    )
    return joined.select(
        "purchase_id", "click_id", "user_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts"))
        .cast("long").alias("gap_seconds"),
    )


RANGE_JOIN_SQL = """
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'click'
)
SELECT purchase_id, click_id, p.user_id,
       CAST(floor(epoch(p_ts)) - floor(epoch(c_ts)) AS BIGINT) AS gap_seconds
FROM purchases p JOIN clicks c USING (user_id)
WHERE abs(CAST(floor(epoch(p_ts)) AS BIGINT)
          - CAST(floor(epoch(c_ts)) AS BIGINT)) <= 600
"""


# --- sequential conversion funnel ----------------------------------------
def conversion_funnel(t: Tables) -> DataFrame:
    """Strict-order funnel view → click → purchase per user: each stage
    keeps the EARLIEST event strictly after the user's previous-stage
    timestamp and within a 24 h conversion window, so out-of-order or
    stale histories don't convert.

    Spelled as a join chain that reuses one partitioning: every stage
    joins and aggregates on user_id, so a cluster shuffles the events
    once and every subsequent stage is co-partitioned (AQE coalesces the
    already-tiny stage frames to broadcast). Stage frames shrink
    monotonically — the expensive side is always the first scan, which
    arrives pruned to (user_id, event_type, ts)."""
    ev = t["events"].select("user_id", "event_type", "ts")

    # first_view feeds the click chain AND the stage union, first_click
    # the purchase chain AND the union: lazily composed, each reference
    # re-scanned events through the whole prior chain (5 scans in
    # plans/r11/conversion_funnel_before.txt). The stage frames are
    # per-user aggregates — the natural materialization boundary.
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=False)
    )
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .localCheckpoint(eager=False)
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    # One tagged union + a single-row conditional aggregate: no scalar
    # crossJoins (which would plan broadcast NLJs — harmless over one
    # row, but the sweep in test_plans.py bans the operator outright).
    def tag(df: DataFrame, stage: str) -> DataFrame:
        return df.select(F.lit(stage).alias("stage"))

    stages = (
        tag(first_view, "view")
        .unionByName(tag(first_click, "click"))
        .unionByName(tag(first_purchase, "purchase"))
    )
    counted = stages.agg(
        F.count(F.when(F.col("stage") == "view", 1)).alias("n_view"),
        F.count(F.when(F.col("stage") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("stage") == "purchase", 1)).alias("n_purchase"),
    )
    return counted.select(
        "n_view",
        "n_click",
        "n_purchase",
        # int/int division → bit-deterministic doubles cross-engine
        (F.col("n_click").cast("double") / F.col("n_view").cast("double"))
        .alias("view_to_click"),
        (F.col("n_purchase").cast("double")
         / F.col("n_click").cast("double")).alias("click_to_purchase"),
    )


CONVERSION_FUNNEL_SQL = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY 1
), fc AS (
  SELECT e.user_id, MIN(ts) AS t_click
  FROM events e JOIN fv USING (user_id)
  WHERE event_type = 'click' AND ts > t_view
    AND ts <= t_view + INTERVAL '24 hours' GROUP BY 1
), fp AS (
  SELECT e.user_id, MIN(ts) AS t_purchase
  FROM events e JOIN fc USING (user_id)
  WHERE event_type = 'purchase' AND ts > t_click
    AND ts <= t_click + INTERVAL '24 hours' GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM fv) AS n_view,
       (SELECT COUNT(*) FROM fc) AS n_click,
       (SELECT COUNT(*) FROM fp) AS n_purchase,
       CAST((SELECT COUNT(*) FROM fc) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM fv) AS DOUBLE) AS view_to_click,
       CAST((SELECT COUNT(*) FROM fp) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM fc) AS DOUBLE) AS click_to_purchase
"""


def attribution_join(t: Tables) -> DataFrame:
    """Directional click→purchase attribution: every purchase joined to
    each same-user click in the preceding 10 minutes. Batch twin of the
    stream-stream join in ``streaming/joins.py`` (the equi key keeps it
    a hash/sort-merge join — the range bounds ride along as a post-join
    filter, never a nested loop)."""
    from ..streaming.joins import attribution_join_batch

    return attribution_join_batch(t["events"])


ATTRIBUTION_SQL = """
WITH clicks AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts FROM events
  WHERE event_type = 'click'
), purchases AS (
  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts FROM events
  WHERE event_type = 'purchase'
)
SELECT purchase_id, click_id, p_user AS user_id,
       CAST(floor(epoch(p_ts)) - floor(epoch(c_ts)) AS BIGINT) AS gap_seconds
FROM clicks c JOIN purchases p ON c_user = p_user
WHERE p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 600 SECONDS
"""


def attribution_join_outer(t: Tables) -> DataFrame:
    """LEFT OUTER attribution — the funnel-accounting twin of
    attribution_join: every click emits, unconverted clicks carry a
    null purchase + converted=false, so conversion DENOMINATORS come
    from the same join that produces the matches. Batch twin of
    ``streaming/joins.attribution_join_outer_stream``, whose
    watermark-driven null emission the stream==batch pytest pins."""
    from ..streaming.joins import attribution_join_outer_batch

    return attribution_join_outer_batch(t["events"])


ATTRIBUTION_OUTER_SQL = """
WITH clicks AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts FROM events
  WHERE event_type = 'click'
), purchases AS (
  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts FROM events
  WHERE event_type = 'purchase'
)
SELECT click_id, c_user AS user_id, purchase_id,
       CAST(floor(epoch(p_ts)) - floor(epoch(c_ts)) AS BIGINT) AS gap_seconds,
       purchase_id IS NOT NULL AS converted
FROM clicks c LEFT JOIN purchases p
  ON c_user = p_user AND p_ts >= c_ts
     AND p_ts <= c_ts + INTERVAL 600 SECONDS
"""


# --- time-series gap-fill + forward-fill -------------------------------------
def daily_gapfill(t: Tables) -> DataFrame:
    """Time-series densification: per event_type daily counts with
    missing days materialized as 0-rows and the daily value total
    forward-filled from the last observed day (standard feature-store /
    monitoring shape the reference's daily ES index rotation implies
    but never computes; ref: src/logstash/logstash.conf daily indices).

    Scale shape: the calendar explode is bounded by (keys × day-span),
    tiny next to the event count; one shuffle keys the daily pre-agg
    and the window reuses that partitioning. Daily values are summed in
    DECIMAL so the carried value is partition-order independent."""
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_val"),
        )
    )
    cal = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cal.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("_val", ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("carried_value"),
        )
    )


DAILY_GAPFILL_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,2))) AS val
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), cal AS (
  SELECT event_type,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
), joined AS (
  SELECT c.event_type, c.day, d.n_events, d.val,
         COUNT(d.val) OVER (PARTITION BY c.event_type ORDER BY c.day
                            ROWS UNBOUNDED PRECEDING) AS ffgrp
  FROM cal c LEFT JOIN daily d USING (event_type, day)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       COALESCE(n_events, 0) AS n_events,
       CAST(MAX(val) OVER (PARTITION BY event_type, ffgrp) AS DOUBLE)
         AS carried_value
FROM joined
"""


# --- deterministic stratified sampling ---------------------------------------
def stratified_sample(t: Tables) -> DataFrame:
    """Per-stratum deterministic sampling — ``sampleBy`` semantics with
    a content-key hash instead of an RNG, so the sample is identical
    across runs, engines, and re-shards (the property a reproducible
    training-data pipeline needs). Rates per mille: view 50, click 200,
    everything else kept whole. Pure map filter → partial-agg count."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000
    )
    rate = (
        F.when(F.col("event_type") == "view", 50)
        .when(F.col("event_type") == "click", 200)
        .otherwise(1000)
    )
    return (
        t["events"]
        .filter(bucket < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sampled_value"),
        )
    )


STRATIFIED_SAMPLE_SQL = """
SELECT event_type, COUNT(*) AS n_sampled,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sampled_value
FROM events
WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 1000 < CASE event_type WHEN 'view' THEN 50
                               WHEN 'click' THEN 200 ELSE 1000 END
GROUP BY 1
"""


# --- robust outlier detection (discrete median / MAD) ------------------------
def value_outliers_mad(t: Tables) -> DataFrame:
    """Robust per-stratum anomaly stats: discrete (lower) median and
    MAD, and the count of points beyond median ± 3·MAD. The DISCRETE
    median (element at rank ceil(n/2), not interpolated) is a real data
    value, so every downstream comparison is over bit-identical doubles
    on any engine — no interpolation-order epsilon at the threshold.

    Scale shape (round 11, guide §2.3 "aggregate before you shuffle"):
    ONE map-side partial aggregation collapses events to a per-(type,
    value) HISTOGRAM — the value domain saturates (sf0.1: 17.8k
    distinct of 100k rows and sublinear in SF), so every downstream
    pass runs over a domain-bounded frame instead of the fact table.
    The discrete rank-ceil(n/2) element is read off the histogram's
    cumulative counts (the element at rank r has the value v with
    cum(v−) < r ≤ cum(v) — identical to the old full-data row_number
    selection, since event_id tiebreaks never change the *value* at a
    rank), and the MAD repeats the trick on the |value−med| histogram.
    The old spelling windowed the FULL fact table by event_type twice
    (5 partitions → 5-task sort at any scale) and recomputed the
    dev subtree for the final aggregate; the histogram is built once,
    localCheckpoint-ed (it feeds med, the adev histogram, and the
    final outlier count), and the fact table is scanned exactly once.
    """
    hist = (
        t["events"]
        .groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    med = (
        hist.withColumn("_cum", F.sum("cnt").over(wcum))
        .withColumn("_n", F.sum("cnt").over(wall))
        .withColumn("_r", F.floor((F.col("_n") + 1) / 2))
        .filter(
            (F.col("_cum") - F.col("cnt") < F.col("_r"))
            & (F.col("_r") <= F.col("_cum"))
        )
        .select("event_type", F.col("value").alias("med"))
    )
    dev_hist = (
        hist.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
        )
        .agg(F.sum("cnt").alias("cnt"), F.max("med").alias("med"))
        .localCheckpoint(eager=False)
    )
    wadev = (
        Window.partitionBy("event_type")
        .orderBy("adev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mad = (
        dev_hist.withColumn("_cum", F.sum("cnt").over(wadev))
        .withColumn("_n", F.sum("cnt").over(wall))
        .withColumn("_r", F.floor((F.col("_n") + 1) / 2))
        .filter(
            (F.col("_cum") - F.col("cnt") < F.col("_r"))
            & (F.col("_r") <= F.col("_cum"))
        )
        .select("event_type", F.col("adev").alias("mad"))
    )
    return (
        dev_hist.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_outliers"),
            F.sum("cnt").alias("n_total"),
        )
    )


VALUE_OUTLIERS_SQL = """
WITH ev AS (SELECT event_type, event_id, value FROM events),
med AS (
  SELECT event_type, value AS med FROM (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM ev)
  WHERE rn = floor((n + 1) / 2)
), dev AS (
  SELECT ev.event_type, ev.event_id, ev.value, med.med,
         abs(ev.value - med.med) AS adev
  FROM ev JOIN med USING (event_type)
), mad AS (
  SELECT event_type, adev AS mad FROM (
    SELECT event_type, adev,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY adev, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev)
  WHERE rn = floor((n + 1) / 2)
)
SELECT dev.event_type,
       ROUND(MAX(dev.med), 6) AS med,
       ROUND(MAX(mad.mad), 6) AS mad,
       CAST(SUM(CASE WHEN dev.adev > 3 * mad.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       COUNT(*) AS n_total
FROM dev JOIN mad USING (event_type)
GROUP BY 1
"""


# --- cohort retention ---------------------------------------------------------
def cohort_retention(t: Tables) -> DataFrame:
    """Weekly cohort retention triangle: users are assigned to the ISO
    week of their first event; each later active week counts toward
    that cohort's ``week_offset`` row, with retention as an exact
    int/int ratio vs the cohort size (product-analytics staple implied
    by the reference's per-user Kibana dashboards; ref:
    src/logstash/logstash.conf daily indices).

    Scale shape: one shuffle keys (user, week) distinct activity, a
    broadcast-able cohort map joins back on user, and the final agg is
    a partial-count — no window, no skew (weeks are bounded keys)."""
    ev = t["events"].select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    )
    active = ev.distinct()
    cohort = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        active.join(cohort, "user_id")
        .select(
            "cohort_week",
            F.floor(F.datediff("week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        ret.join(sizes, "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            (F.col("n_active") / F.col("cohort_size")).alias("retention"),
        )
    )


COHORT_RETENTION_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
), cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM active GROUP BY 1
), sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohort GROUP BY 1
), ret AS (
  SELECT c.cohort_week,
         CAST(FLOOR((a.week - c.cohort_week) / 7) AS INTEGER) AS week_offset,
         COUNT(*) AS n_active
  FROM active a JOIN cohort c USING (user_id)
  GROUP BY 1, 2
)
SELECT strftime(r.cohort_week, '%Y-%m-%d') AS cohort_week, r.week_offset,
       r.n_active, s.cohort_size,
       CAST(r.n_active AS DOUBLE) / s.cohort_size AS retention
FROM ret r JOIN sizes s USING (cohort_week)
"""


# --- event-sequence transition matrix ----------------------------------------
def event_transitions(t: Tables) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag(event_type) within each user's timeline, then
    (prev, next) counts and the row-normalized transition probability
    (sequence-model / funnel-diagnostic shape; int/int division keeps
    the probability bit-stable across engines).

    Scale shape: the lag window shuffles once on user_id (millions of
    small partitions — the natural key); the count agg and the
    per-prev normalizing window both ride tiny grouped outputs."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        t["events"]
        .select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    counts = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    tot = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions")
            / F.sum("n_transitions").over(tot).cast("double")
        ).alias("p_transition"),
    )


EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS next_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), counts AS (
  SELECT prev_type, next_type, COUNT(*) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(CAST(SUM(n_transitions) OVER (PARTITION BY prev_type)
                     AS BIGINT) AS DOUBLE) AS p_transition
FROM counts
"""


# --- 7-day rolling average ----------------------------------------------------
def rolling_avg_value(t: Tables) -> DataFrame:
    """Calendar-aware trailing 7-day rolling mean of the daily value
    total per event_type — RANGE frame on a day index so missing days
    shrink the window (monitoring smoothing the reference's daily index
    rotation implies). Daily totals go through DECIMAL then exact
    integer cents, so the rolling mean is an exact-int division —
    bit-stable under any partitioning.

    Scale shape: one keyed pre-agg shuffle to (type, day); the RANGE
    window rides the same partitioning over a bounded calendar."""
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
        .withColumn("day_idx", F.datediff("day", F.lit("2024-01-01")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("cents") / F.lit(100.0)).alias("day_value"),
        F.count(F.lit(1)).over(w).alias("n_days_window"),
        (
            F.sum("cents").over(w)
            / (F.count(F.lit(1)).over(w) * F.lit(100.0))
        ).alias("avg_7d"),
    )


ROLLING_AVG_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
         (CAST(date_trunc('day', ts) AS DATE) - DATE '2024-01-01') AS day_idx
  FROM events GROUP BY 1, 2
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(cents AS DOUBLE) / 100.0 AS day_value,
       COUNT(*) OVER w AS n_days_window,
       CAST(CAST(SUM(cents) OVER w AS BIGINT) AS DOUBLE)
         / (COUNT(*) OVER w * 100.0) AS avg_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# --- exact least-squares trend ------------------------------------------------
def regr_value_trend(t: Tables) -> DataFrame:
    """Per-type least-squares trend of the daily value total over the
    day index — slope/intercept from the closed-form normal equations
    computed over exact integer sums (x = day index, y = daily cents),
    so both engines evaluate the identical double expression
    (regression-over-time shape; DuckDB's regr_slope would compute the
    same quantity in streaming double — we pin the exact-int route).

    Scale shape: everything is a partial-aggregable sum — one shuffle
    to (type, day) for the daily totals, one tiny agg per type; the
    closed form needs no second pass over the data."""
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("y")
        )
        .withColumn(
            "x", F.datediff("day", F.lit("2024-01-01")).cast("bigint")
        )
    )
    sums = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / den.cast("double"),
    )
    return sums.select(
        "event_type",
        "n",
        (slope / F.lit(100.0)).alias("slope_per_day"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / (F.col("n") * F.lit(100.0))
        ).alias("intercept"),
    )


REGR_TREND_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
         CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '2024-01-01'
              AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('day', ts)
), sums AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM daily GROUP BY 1
)
SELECT event_type, n,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
         (CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)) / 100.0
       END AS slope_per_day,
       (CAST(sy AS DOUBLE)
          - CASE WHEN n * sxx - sx * sx <> 0 THEN
              CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
            END * CAST(sx AS DOUBLE))
         / (n * 100.0) AS intercept
FROM sums
"""


# --- fixed-width histogram ----------------------------------------------------
def value_histogram(t: Tables) -> DataFrame:
    """Fixed-width histogram of the event value per type (bin width 2,
    floor-bucketed — floor, never round, per the cross-engine tie
    rule). The profiling shape behind every monitoring dashboard; a
    pure map + partial-agg count, the cheapest possible plan."""
    bin_lo = (F.floor(F.col("value") / 2) * 2).cast("bigint")
    return (
        t["events"]
        .groupBy("event_type", bin_lo.alias("bin_lo"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


VALUE_HISTOGRAM_SQL = """
SELECT event_type,
       CAST(FLOOR(value / 2) * 2 AS BIGINT) AS bin_lo,
       COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


# --- TS winsorization ---------------------------------------------------------
def value_winsorized(t: Tables) -> DataFrame:
    """Per-type winsorized means: clamp values at the DISCRETE P5/P95
    (value at rank ceil(q·n) — a real data point, no interpolation, so
    the bound is bit-identical cross-engine like value_outliers_mad's
    median) and report n, raw mean, winsorized mean. The de-spiking
    step metric pipelines run before trend-fitting.

    Sums go through exact integer cents so both means are
    partition-order independent; one ranked pass finds both bounds
    (conditional agg on the same window), one broadcast join clamps.
    """
    ev = t["events"].select("event_type", "event_id", "value")
    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.withColumn("_rn", F.row_number().over(wv)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    bounds = (
        ranked.filter(
            (F.col("_rn") == F.ceil(F.col("_n") * 0.05))
            | (F.col("_rn") == F.ceil(F.col("_n") * 0.95))
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("_rn") == F.ceil(F.col("_n") * 0.05), F.col("value"))
            ).alias("p05"),
            F.min(
                F.when(F.col("_rn") == F.ceil(F.col("_n") * 0.95), F.col("value"))
            ).alias("p95"),
        )
    )
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    clamped = ev.join(F.broadcast(bounds), "event_type").withColumn(
        "wv", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents(F.col("value"))).cast("double") / 100.0 / F.count(F.lit(1))).alias(
            "mean_raw"
        ),
        (F.sum(cents(F.col("wv"))).cast("double") / 100.0 / F.count(F.lit(1))).alias(
            "mean_winsorized"
        ),
        F.min("p05").alias("p05"),
        F.min("p95").alias("p95"),
    )


VALUE_WINSORIZED_SQL = """
WITH ranked AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type,
         MIN(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT) THEN value END) AS p05,
         MIN(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN value END) AS p95
  FROM ranked
  WHERE rn = CAST(ceil(n * 0.05) AS BIGINT) OR rn = CAST(ceil(n * 0.95) AS BIGINT)
  GROUP BY 1
),
clamped AS (
  SELECT e.event_type, e.value,
         LEAST(GREATEST(e.value, b.p05), b.p95) AS wv, b.p05, b.p95
  FROM events e JOIN bounds b ON e.event_type = b.event_type
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
         / COUNT(*) AS mean_raw,
       CAST(SUM(CAST(round(wv * 100) AS BIGINT)) AS DOUBLE) / 100.0
         / COUNT(*) AS mean_winsorized,
       MIN(p05) AS p05, MIN(p95) AS p95
FROM clamped GROUP BY 1
"""


# --- TS rolling distinct (WAU) ------------------------------------------------
def rolling_active_users(t: Tables) -> DataFrame:
    """Trailing-7-day distinct active users per day (the WAU curve).

    A rolling COUNT(DISTINCT) has no partial aggregate, and the naive
    spelling — a GLOBAL ordered window with a set-collecting frame —
    funnels the whole table through one sort partition. The scale-right
    spelling inverts it: each (user, active-day) pair CONTRIBUTES to the
    7 report days it falls inside (a 7-element sequence explode,
    map-side), and the count is then an ordinary keyed distinct-agg on
    report_day — fully parallel, two-phase, no global sort anywhere.
    Report days with trailing-window activity but no same-day events
    are included (that is what "active in the last 7 days" means).
    """
    from ..functions.expr import spread

    ev = t["events"]
    pairs = (
        spread(ev)
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    contrib = pairs.select(
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 6)
            )
        ).alias("report_day"),
        "user_id",
    )
    return (
        contrib.groupBy(
            F.date_format("report_day", "yyyy-MM-dd").alias("report_day")
        )
        .agg(F.countDistinct("user_id").alias("wau"))
    )


ROLLING_ACTIVE_USERS_SQL = """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
contrib AS (
  SELECT strftime(CAST(day + CAST(i AS INTEGER) AS DATE), '%Y-%m-%d')
           AS report_day,
         user_id
  FROM pairs, unnest(range(0, 7)) AS t(i)
)
SELECT report_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
FROM contrib GROUP BY 1
"""


# --- E: VARIANT ingest (Spark 4 open-variant type) ---------------------------
def variant_props_profile(t: Tables) -> DataFrame:
    """Semi-structured ingest through the VARIANT type (Spark 4's
    binary-encoded open JSON format): props is parsed ONCE into a
    variant column, then fields come out with typed ``variant_get``
    paths — the modern replacement for repeated get_json_object
    string re-parses when many fields are extracted from one payload.

    Per event_type: row count, missing-k count, distinct k, and the
    exact integer second moment Σk² (bigint — k is bounded, no
    overflow).  Oracle: DuckDB json_extract on the same strings; the
    VARIANT encode/decode must be semantically invisible.
    """
    v = F.parse_json("props")
    k = F.expr("variant_get(v, '$.k', 'long')")
    return (
        t["events"]
        .select("event_type", v.alias("v"))
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
                "n_missing_k"
            ),
            F.count_distinct(F.col("k")).alias("n_distinct_k"),
            F.sum(F.col("k") * F.col("k")).alias("sum_k2"),
        )
    )


VARIANT_PROPS_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(*) FILTER (json_extract_string(props, '$.k') IS NULL)
            AS BIGINT) AS n_missing_k,
       CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_distinct_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)
                * CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k2
FROM events GROUP BY 1
"""


# --- TS: sweep-line peak concurrency -----------------------------------------
def concurrent_users_peak(t: Tables) -> DataFrame:
    """Per-day peak concurrent users by the classic SWEEP-LINE: each
    user's daily activity interval [first event, last event] emits a
    +1/−1 delta pair; a running sum over (ts, delta DESC, user_id)
    order — starts before ends at the same instant, so touching
    intervals count as overlapping — peaks at the day's max
    concurrency. The O(n log n) interval-overlap pattern that replaces
    the quadratic self-join ``a.s <= b.e AND b.s <= a.e``.

    Scale shape: intervals are built by one (day,user) keyed agg; the
    sweep window partitions by day — 2·users rows per partition. At
    100 TB a single hot day would sub-partition the sweep by a hash
    shard with broadcast offset correction (the epoch_batches two-pass
    rank pattern); the per-day spelling keeps the plan one window. The
    daily PEAK is invariant to tie order inside an equal (ts, delta)
    run, and the explicit user_id tiebreak makes even the intermediate
    running sums deterministic."""
    from pyspark.sql.window import Window

    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    iv = (
        t["events"]
        .groupBy(day, "user_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    pts = iv.select(
        "day", "user_id", F.col("s").alias("pt"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(
            "day", "user_id", F.col("e").alias("pt"), F.lit(-1).alias("delta")
        )
    )
    run = F.sum("delta").over(
        Window.partitionBy("day")
        .orderBy(F.col("pt"), F.col("delta").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        pts.withColumn("running", run)
        .groupBy("day")
        .agg(
            F.max("running").alias("peak_concurrent"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_users"),
        )
    )


CONCURRENT_PEAK_SQL = """
WITH iv AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id,
         MIN(ts) AS s, MAX(ts) AS e
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT day, user_id, s AS pt, 1 AS delta FROM iv
  UNION ALL
  SELECT day, user_id, e AS pt, -1 AS delta FROM iv
),
swept AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day
                          ORDER BY pt, delta DESC, user_id
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM pts
)
SELECT day, CAST(MAX(running) AS BIGINT) AS peak_concurrent,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_users
FROM swept GROUP BY 1
"""


# --- X5e: equi-depth histogram ------------------------------------------------
HIST_BUCKETS = 10


def value_equidepth_hist(t: Tables) -> DataFrame:
    """Equi-DEPTH histogram of event value per type — the statistics
    structure query optimizers keep (equal row counts per bucket,
    data-driven boundaries), next to value_histogram's fixed-width
    buckets. ntile assigns buckets over a TOTAL order (value,
    event_id — ties must not float between buckets or the boundary
    rows differ per engine); per bucket: row count + inclusive
    [lo, hi] boundaries, all exact.

    Scale shape: ntile is one per-group window (groups bound the sort);
    at petabyte scale the same statistics come from approx quantile
    CUTS instead (approx_value_quantiles is that path) — this is the
    exact spelling that oracles it."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        t["events"]
        .select("event_type", "value", "event_id")
        .withColumn("bucket", F.ntile(HIST_BUCKETS).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


VALUE_EQUIDEPTH_SQL = f"""
WITH b AS (
  SELECT event_type, value,
         NTILE({HIST_BUCKETS}) OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS bucket
  FROM events
)
SELECT event_type, bucket, COUNT(*) AS n_rows,
       MIN(value) AS lo, MAX(value) AS hi
FROM b GROUP BY 1, 2
"""


# --- §2.6: sliding-window aggregation (shared batch/stream transform) --------
def sliding_counts_transform(events: DataFrame) -> DataFrame:
    """Shared batch/stream transform: 3-day windows sliding by 1 day —
    the overlapping-window shape (each event lands in exactly three
    windows). Native ``F.window(slideDuration=...)`` so the SAME
    expression runs under readStream with a watermark; the batch twin
    is what the oracle checks. State per (window, type) row only —
    trailing-window semantics without per-event state."""
    return (
        events.groupBy(
            F.window("ts", "3 days", "1 day").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_counts(t: Tables) -> DataFrame:
    """§2.6: batch twin of the sliding-window stream aggregation."""
    return sliding_counts_transform(t["events"])


# Spark aligns sliding windows to epoch multiples of the slide (1 day),
# so the three windows containing ts start at day(ts)−2, −1, 0 days.
SLIDING_EVENT_COUNTS_SQL = """
SELECT strftime(date_trunc('day', ts) - INTERVAL (o.off) DAY,
                '%Y-%m-%d') AS win_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
CROSS JOIN (SELECT unnest([0, 1, 2]) AS off) o
GROUP BY 1, 2
"""


# --- A/B experiment readout: 2×2 chi-square ----------------------------------
def ab_test_chi2(t: Tables) -> DataFrame:
    """Experiment analysis: Pearson χ² of independence on the 2×2
    (variant × converted) table — variant from the event's typed JSON
    payload (k mod 2, the deterministic bucket a real assignment
    service would have written), conversion = purchase event. One
    aggregation pass produces the four cells; χ² and the B/A
    conversion lift are single identically-spelled double expressions
    over those exact integers (no transcendentals), so both engines
    agree bit-for-bit. Events without a payload k are excluded (no
    assignment — the honest denominator).

    Scale shape: map-side conditional counts into ONE row; nothing
    else moves."""
    ev = t["events"]
    k = F.get_json_object("props", "$.k").cast("bigint")
    variant = (k % 2).alias("variant")
    conv = (F.col("event_type") == "purchase").cast("bigint")
    cells = (
        ev.filter(k.isNotNull())
        .select(variant, conv.alias("conv"))
        .agg(
            F.sum(((F.col("variant") == 0) & (F.col("conv") == 1))
                  .cast("bigint")).alias("a_conv"),
            F.sum(((F.col("variant") == 0) & (F.col("conv") == 0))
                  .cast("bigint")).alias("a_other"),
            F.sum(((F.col("variant") == 1) & (F.col("conv") == 1))
                  .cast("bigint")).alias("b_conv"),
            F.sum(((F.col("variant") == 1) & (F.col("conv") == 0))
                  .cast("bigint")).alias("b_other"),
        )
    )
    ad = F.col("a_conv").cast("double")
    ao = F.col("a_other").cast("double")
    bd = F.col("b_conv").cast("double")
    bo = F.col("b_other").cast("double")
    n = ad + ao + bd + bo
    d1 = ad * bo - ao * bd
    chi2 = (n * d1 * d1) / (
        ((ad + ao) * (bd + bo)) * ((ad + bd) * (ao + bo))
    )
    lift = (bd / (bd + bo)) / (ad / (ad + ao))
    return cells.select(
        "a_conv", "a_other", "b_conv", "b_other",
        F.round(chi2, 6).alias("chi2"),
        F.round(lift, 6).alias("lift"),
    )


AB_TEST_CHI2_SQL = """
WITH cells AS (
  SELECT
    SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
              AND event_type = 'purchase' THEN 1 ELSE 0 END) AS a_conv,
    SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
              AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS a_other,
    SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 1
              AND event_type = 'purchase' THEN 1 ELSE 0 END) AS b_conv,
    SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 1
              AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS b_other
  FROM events
  WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
)
-- BIGINT casts on the cells: DuckDB's SUM over integers yields
-- HUGEINT, which pandas renders as float64 — numerically equal to
-- Spark's bigint but a different dtype/bit pattern under a
-- pandas-layer hash (tools/driver_sim.py dtype probe).
SELECT CAST(a_conv AS BIGINT) AS a_conv,
       CAST(a_other AS BIGINT) AS a_other,
       CAST(b_conv AS BIGINT) AS b_conv,
       CAST(b_other AS BIGINT) AS b_other,
       round(
         ((CAST(a_conv AS DOUBLE) + CAST(a_other AS DOUBLE)
           + CAST(b_conv AS DOUBLE) + CAST(b_other AS DOUBLE))
          * (CAST(a_conv AS DOUBLE) * CAST(b_other AS DOUBLE)
             - CAST(a_other AS DOUBLE) * CAST(b_conv AS DOUBLE))
          * (CAST(a_conv AS DOUBLE) * CAST(b_other AS DOUBLE)
             - CAST(a_other AS DOUBLE) * CAST(b_conv AS DOUBLE)))
         / (((CAST(a_conv AS DOUBLE) + CAST(a_other AS DOUBLE))
             * (CAST(b_conv AS DOUBLE) + CAST(b_other AS DOUBLE)))
            * ((CAST(a_conv AS DOUBLE) + CAST(b_conv AS DOUBLE))
               * (CAST(a_other AS DOUBLE) + CAST(b_other AS DOUBLE)))),
         6) AS chi2,
       round(
         (CAST(b_conv AS DOUBLE)
          / (CAST(b_conv AS DOUBLE) + CAST(b_other AS DOUBLE)))
         / (CAST(a_conv AS DOUBLE)
            / (CAST(a_conv AS DOUBLE) + CAST(a_other AS DOUBLE))),
         6) AS lift
FROM cells
"""


# --- privacy governance: right-to-erasure run audit --------------------------
def gdpr_erasure_audit(t: Tables) -> DataFrame:
    """Right-to-erasure (GDPR art. 17) run audit: how many events each
    forget-request batch removes, per event type — the compliance
    evidence a deletion job must emit. The forget set here is the
    deterministic stand-in ``user_id % 97 == 0`` (a real run broadcasts
    the request list); the erasure itself is one map-side anti-filter,
    and the audit is the same scan's conditional counts — before,
    removed, after — so evidence and deletion cost a single pass. On a
    partitioned lake the filter prunes to affected partitions and the
    rewrite touches only those files.

    Companion to k_anonymity_audit: one measures re-identification
    risk, this one proves the deletion pipeline ran to completion
    (n_after + n_removed == n_before, checkable per row)."""
    forget = (F.col("user_id") % 97 == 0).cast("bigint")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(forget).alias("n_removed"),
            (F.count(F.lit(1)) - F.sum(forget)).alias("n_after"),
            F.count_distinct(
                F.when(F.col("user_id") % 97 == 0, F.col("user_id"))
            ).alias("n_users_forgotten"),
        )
    )


GDPR_ERASURE_SQL = """
SELECT event_type,
       COUNT(*) AS n_before,
       CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(COUNT(*) - SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after,
       COUNT(DISTINCT CASE WHEN user_id % 97 = 0 THEN user_id END)
         AS n_users_forgotten
FROM events GROUP BY 1
"""


# --- experiment × funnel: per-variant strict-order conversion ----------------
def funnel_by_variant(t: Tables) -> DataFrame:
    """The A/B readout a growth team actually ships: the strict-order
    view → click → purchase funnel (conversion_funnel semantics —
    earliest qualifying event per stage, 24 h windows) split by
    experiment arm. Assignment is per-USER (user_id mod 2 — the
    deterministic stand-in for the bucketing hash an assignment
    service persists), so every stage of one user's journey lands in
    one arm by construction.

    Same scale shape as conversion_funnel: every stage joins and
    aggregates on user_id (one reused partitioning); the variant is a
    map-side derivation of that same key, so the split adds ZERO extra
    shuffle — the final conditional aggregate just gains a 2-value
    group key. Rates are int/int double divisions (exact both
    engines)."""
    ev = t["events"].select("user_id", "event_type", "ts")
    # first_view feeds the click chain AND the stage union, first_click
    # the purchase chain AND the union: lazily composed, each reference
    # re-scanned events through the whole prior chain (6 scans in
    # plans/r11/funnel_by_variant_before.txt). The stage frames are
    # per-user aggregates — the natural materialization boundary.
    first_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=False)
    )
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .join(first_view, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
        .localCheckpoint(eager=False)
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def tag(df: DataFrame, stage: str) -> DataFrame:
        return df.select(
            (F.col("user_id") % 2).alias("variant"),
            F.lit(stage).alias("stage"),
        )

    stages = (
        tag(first_view, "view")
        .unionByName(tag(first_click, "click"))
        .unionByName(tag(first_purchase, "purchase"))
    )
    return (
        stages.groupBy("variant")
        .agg(
            F.count(F.when(F.col("stage") == "view", 1)).alias("n_view"),
            F.count(F.when(F.col("stage") == "click", 1)).alias("n_click"),
            F.count(F.when(F.col("stage") == "purchase", 1)).alias(
                "n_purchase"
            ),
        )
        .select(
            "variant", "n_view", "n_click", "n_purchase",
            (F.col("n_click").cast("double")
             / F.col("n_view").cast("double")).alias("view_to_click"),
            (F.col("n_purchase").cast("double")
             / F.col("n_click").cast("double")).alias("click_to_purchase"),
        )
    )


FUNNEL_BY_VARIANT_SQL = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY 1
), fc AS (
  SELECT e.user_id, MIN(ts) AS t_click
  FROM events e JOIN fv USING (user_id)
  WHERE event_type = 'click' AND ts > t_view
    AND ts <= t_view + INTERVAL '24 hours' GROUP BY 1
), fp AS (
  SELECT e.user_id, MIN(ts) AS t_purchase
  FROM events e JOIN fc USING (user_id)
  WHERE event_type = 'purchase' AND ts > t_click
    AND ts <= t_click + INTERVAL '24 hours' GROUP BY 1
), stages AS (
  SELECT user_id % 2 AS variant, 'view' AS stage FROM fv
  UNION ALL SELECT user_id % 2, 'click' FROM fc
  UNION ALL SELECT user_id % 2, 'purchase' FROM fp
), counts AS (
  SELECT variant,
         COUNT(CASE WHEN stage = 'view' THEN 1 END) AS n_view,
         COUNT(CASE WHEN stage = 'click' THEN 1 END) AS n_click,
         COUNT(CASE WHEN stage = 'purchase' THEN 1 END) AS n_purchase
  FROM stages GROUP BY 1
)
SELECT variant, n_view, n_click, n_purchase,
       CAST(n_click AS DOUBLE) / CAST(n_view AS DOUBLE) AS view_to_click,
       CAST(n_purchase AS DOUBLE) / CAST(n_click AS DOUBLE)
         AS click_to_purchase
FROM counts
"""


# --- time-series anomaly flags -----------------------------------------------
def daily_anomaly_flags(t: Tables) -> DataFrame:
    """Monitoring: flag days whose total value deviates > 3σ from the
    TRAILING 28-day window (current day excluded — the day under test
    must not contaminate its own baseline), per event_type; windows
    with < 7 prior days never flag (cold start). The alarm a daily
    ingest pipeline hangs off its volume metrics.

    Cross-engine exactness: the whole test runs in integers — daily
    totals are exact cents; with n = window days, s1 = Σc, s2 = Σc²,
    d = c·n − s1 (n-scaled deviation), the 3σ test z² > 9 rewrites as
    d² > 9·(n·s2 − s1²) — both sides exact DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB), no float σ or division anywhere. Zero-variance
    baselines flag ANY deviation (d ≠ 0) — documented, matched by the
    oracle.

    Scale shape: one keyed pre-agg to (type, day) then a RANGE frame
    over the bounded calendar — same topology as rolling_avg_value;
    per-key state is the 28-row frame, independent of event volume."""
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("cents")
        )
        .withColumn("day_idx", F.datediff("day", F.lit("2024-01-01")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rangeBetween(-28, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("cents").over(w)
    s2 = F.sum(
        (F.col("cents").cast("decimal(38,0)") * F.col("cents"))
    ).over(w)
    stats = daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("cents") / F.lit(100.0)).alias("day_value"),
        n.cast("bigint").alias("n_window"),
        (F.col("cents").cast("decimal(38,0)") * n - s1).alias("d"),
        (s2 * n - (s1.cast("decimal(38,0)") * s1)).alias("nvar"),
    )
    return stats.select(
        "event_type", "day", "day_value", "n_window",
        (
            (F.col("n_window") >= 7)
            & (F.col("d") * F.col("d") > F.lit(9) * F.col("nvar"))
        ).alias("is_anomaly"),
    )


DAILY_ANOMALY_SQL = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
         (CAST(date_trunc('day', ts) AS DATE) - DATE '2024-01-01') AS day_idx
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT event_type, day, cents,
         COUNT(*) OVER w AS n_window,
         SUM(CAST(cents AS HUGEINT)) OVER w AS s1,
         SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) OVER w AS s2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
               RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(cents AS DOUBLE) / 100.0 AS day_value,
       CAST(n_window AS BIGINT) AS n_window,
       (n_window >= 7 AND
        (CAST(cents AS HUGEINT) * n_window - s1)
        * (CAST(cents AS HUGEINT) * n_window - s1)
        > 9 * (s2 * n_window - s1 * s1)) AS is_anomaly
FROM win
"""


# --- incremental aggregate maintenance ---------------------------------------
def incremental_daily_merge(t: Tables) -> DataFrame:
    """Incremental-view-maintenance discipline: the daily (count, total)
    rollup computed as MERGE(materialized history, new-batch delta)
    instead of a full recompute — the split is a deterministic 80/20
    hash of event_id standing in for "yesterday's gold table + today's
    arrivals". The ORACLE is the direct single-pass aggregate over all
    events, so the parity gate itself certifies merge == recompute:
    count and exact-cent sum are decomposable aggregates, and this
    query is the pinned witness that the merge spelling is safe to use
    for backfills at 100 TB (touch only the delta, never rescan
    history). Non-decomposable metrics (exact distinct users) are the
    documented counter-example — they need a mergeable sketch (KMV /
    HLL, plans/approx.py) or a two-level (day, user) pre-distinct.

    Scale shape: each branch is one keyed partial agg; the merge
    re-aggregates ~365-row frames. At scale the history branch is a
    stored table scan, not a recompute — the plan shape here is the
    delta side's."""
    split = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
        )
        % 10
    )
    day = F.to_date("ts").alias("day")
    cents = (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("bigint")

    def branch(pred):
        return (
            t["events"]
            .filter(pred)
            .groupBy(day)
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                cents.alias("cents"),
            )
        )

    merged = (
        branch(split < 8)
        .unionAll(branch(split >= 8))
        .groupBy("day")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    return merged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        (F.col("cents") / F.lit(100.0)).alias("total_value"),
    )


INCREMENTAL_DAILY_MERGE_SQL = """
SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE)
         / 100.0 AS total_value
FROM events GROUP BY 1
"""


# --- TS: per-user training sequences (sequence-model input shape) -------------
SEQ_LAST_N = 16


def user_event_sequences(t: Tables) -> DataFrame:
    """Per-user truncated chronological event sequence — the input
    shape a sequence model (next-event prediction, session embedding)
    trains on: the LAST SEQ_LAST_N events per user in time order,
    plus the user's total event count (so downstream can weight or
    filter by history length). Complements event_transitions (the
    first-order summary) with the raw higher-order sequence.

    Determinism: the suffix is selected by a (ts DESC, event_id DESC)
    row_number and re-ordered chronologically by sorting the collected
    (ts, event_id, event_type) structs — collect_list order is
    partition-dependent, sort_array on the struct prefix is not, and
    the (ts, event_id) pair is a total order. The sequence ships as a
    CSV string (the vocab_encode token_ids_csv convention): raw array
    cells are unhashable in the driver's pandas sort_values
    canonicalizer (the r2 crash class, re-confirmed for this query by
    tools/driver_sim.py before it could burn a CORRECTNESS row).

    Scale shape: one shuffle on user_id shared by the ranking window
    and the collect (same key), per-user state bounded by SEQ_LAST_N —
    the truncation happens BEFORE the collect, so no unbounded user
    timeline is ever materialized into an array."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = t["events"].select(
        "user_id", "ts", "event_id", "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("user_id")
        ).alias("n_events"),
    )
    return (
        ranked.filter(F.col("rn") <= SEQ_LAST_N)
        .groupBy("user_id", "n_events")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ).alias("seq")
        )
        .select(
            "user_id",
            "n_events",
            F.size("seq").alias("seq_len"),
            F.array_join("seq", ",").alias("seq_csv"),
        )
    )


USER_SEQUENCES_SQL = f"""
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id, n_events,
       CAST(COUNT(*) AS INT) AS seq_len,
       string_agg(event_type, ',' ORDER BY ts, event_id) AS seq_csv
FROM ranked WHERE rn <= {SEQ_LAST_N}
GROUP BY 1, 2
"""


# --- TS: recency-decayed engagement score -------------------------------------
# Anchor just past the synthetic corpus's last day; a real deployment
# passes "today". Decay halves weekly: weight(age) = 2^20 >> age_weeks
# — powers of two, so the decay is EXACT integer arithmetic in both
# engines (libm exp(-λt) is not).
RECENCY_ANCHOR = "2024-02-01"
_RECENCY_ONE = 1 << 20


def recency_engagement(t: Tables) -> DataFrame:
    """TS: per-user recency-weighted engagement — Σ_events 2^-(age in
    weeks), the half-life decay score feature stores keep for churn /
    LTV models, as exact integer units (score of 1.0 = one event this
    week = 2^20 units). Top 100 users by score, user_id tiebreak.

    Cross-engine exactness: age_weeks is integer date arithmetic and
    the decay is a bigint right-shift — no float ever appears, so the
    ordering and every value are bit-identical. Scale shape: the
    weight is map-side, the score is one user-keyed integer agg, and
    the top-100 is an orderBy+limit (TakeOrdered — never a global
    sort of the user frame)."""
    age_w = F.floor(
        F.datediff(
            F.lit(RECENCY_ANCHOR).cast("date"), F.col("ts").cast("date")
        )
        / 7
    ).cast("int")
    ev = t["events"].select("user_id", age_w.alias("age_w")).selectExpr(
        "user_id",
        # shiftright's Python wrapper takes only a literal bit count;
        # the SQL form accepts the column
        f"shiftright(CAST({_RECENCY_ONE} AS BIGINT), least(age_w, 40)) AS w",
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w").alias("score_units"),
        )
        .orderBy(F.col("score_units").desc(), F.col("user_id").asc())
        .limit(100)
    )


RECENCY_ENGAGEMENT_SQL = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM({_RECENCY_ONE} >> LEAST(
           CAST(datediff('day', CAST(ts AS DATE),
                         DATE '{RECENCY_ANCHOR}') // 7 AS INT), 40))
            AS BIGINT) AS score_units
FROM events
GROUP BY 1
ORDER BY score_units DESC, user_id ASC
LIMIT 100
"""


# --- TS: association rules over user baskets ----------------------------------
def event_type_lift(t: Tables) -> DataFrame:
    """TS: market-basket association rules at the event-type level —
    for each unordered type pair over per-user baskets (basket = the
    set of event types a user ever triggered): joint support, the two
    marginals, and support/confidence/lift. Lift > 1 ⇒ the types
    co-occur in the same users more than independence predicts — the
    cross-sell / feature-affinity signal.

    Exactness: all counts are exact integers from distinct sets;
    support/confidence/lift are IEEE quotients and products of those
    exact ints (lift spelled (n_ab·N)/(n_a·n_b) as ONE division so no
    intermediate rounds). Scale shape: baskets collect in one
    user-keyed distinct agg that also feeds the marginals; the pair
    kernel (``analytics.set_pairs``) expands each sorted basket
    map-side (the type domain is tiny so per-basket fan-out is
    bounded); marginals broadcast onto the pair counts."""
    baskets = (
        t["events"]
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ts_"))
    )
    n_users = baskets.agg(F.count(F.lit(1)).alias("n_users"))
    marg = baskets.select(
        F.explode("ts_").alias("event_type")
    ).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    pairs = (
        set_pairs(baskets, [], "ts_", "type_a", "type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_users",
            (F.col("n_ab").cast("double") / F.col("n_users").cast("double"))
            .alias("support"),
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double"))
            .alias("confidence"),
            (
                (F.col("n_ab") * F.col("n_users")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


EVENT_TYPE_LIFT_SQL = """
WITH baskets AS (
  SELECT user_id, list_sort(list_distinct(list(event_type))) AS ts_
  FROM events GROUP BY 1
),
nu AS (SELECT COUNT(*) AS n_users FROM baskets),
marg AS (
  SELECT unnest(ts_) AS event_type FROM baskets
),
mcnt AS (SELECT event_type, COUNT(*) AS n_t FROM marg GROUP BY 1),
pairs AS (
  SELECT ts_[i] AS type_a, ts_[j] AS type_b, COUNT(*) AS n_ab
  FROM baskets,
       unnest(range(1, len(ts_) + 1)) AS t(i),
       unnest(range(1, len(ts_) + 1)) AS s(j)
  WHERE j > i
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_ab, ma.n_t AS n_a, mb.n_t AS n_b, n_users,
       CAST(n_ab AS DOUBLE) / CAST(n_users AS DOUBLE) AS support,
       CAST(n_ab AS DOUBLE) / CAST(ma.n_t AS DOUBLE) AS confidence,
       CAST(n_ab * n_users AS DOUBLE)
         / CAST(ma.n_t * mb.n_t AS DOUBLE) AS lift
FROM pairs
JOIN mcnt ma ON ma.event_type = type_a
JOIN mcnt mb ON mb.event_type = type_b
CROSS JOIN nu
"""


# --- VARIANT shredding: typed nested-array extraction feeding an agg --------
def variant_shred_tags(t: Tables) -> DataFrame:
    """VERDICT_r6 #8 (stretch): VARIANT at depth. variant_props_profile
    proves scalar encode/decode; this query pins the SHREDDING path —
    a nested array inside a VARIANT payload extracted with a typed
    ``variant_get(..., 'array<bigint>')``, exploded, and aggregated.

    The driver's props payload is flat, so a nested payload is built
    deterministically from (k, user_id) with pure string ops — length
    1 + k%3, tag_i = (k·i + user_id) % 20 — then parsed ONCE into a
    variant; the DuckDB oracle builds the identical JSON string and
    extracts with json_extract + CAST(... AS BIGINT[]), so the parity
    row certifies that Spark's binary VARIANT encode → typed-array
    decode is semantically invisible against a plain JSON engine.

    Scale shape: map-side construct/parse/shred (zero joins), one
    aggregation exchange on the 20-value tag key — the plan a shredded
    semi-structured scan produces once variant columns are stored."""
    base = t["events"].select(
        "user_id",
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k"),
    )
    payload = F.expr(
        "concat('{\"k\": ', CAST(k AS STRING), ', \"tags\": [', "
        " concat_ws(',', transform(sequence(1, CAST(1 + k % 3 AS INT)), "
        "   i -> CAST((k * i + user_id) % 20 AS STRING))), ']}')"
    )
    shredded = (
        base.select("user_id", "k", F.parse_json(payload).alias("v"))
        .select(
            "user_id",
            "k",
            F.explode(
                F.expr("variant_get(v, '$.tags', 'array<bigint>')")
            ).alias("tag"),
        )
    )
    return shredded.groupBy("tag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("k").alias("sum_k"),
    )


VARIANT_SHRED_TAGS_SQL = """
WITH base AS (
  SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
),
pl AS (
  SELECT user_id, k,
         '{"k": ' || CAST(k AS VARCHAR) || ', "tags": ['
         || list_aggregate(
              list_transform(range(1, CAST(1 + k % 3 AS INT) + 1),
                             i -> CAST((k * i + user_id) % 20 AS VARCHAR)),
              'string_agg', ',')
         || ']}' AS payload
  FROM base
),
shred AS (
  SELECT user_id, k,
         unnest(CAST(json_extract(payload, '$.tags') AS BIGINT[])) AS tag
  FROM pl
)
SELECT tag, COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM shred
GROUP BY tag
"""


# --- TS: top user journeys (path mining) ------------------------------------
PATH_FIRST_N = 5
PATH_TOP_K = 20


def event_paths(t: Tables) -> DataFrame:
    """TS path mining (complements user_event_sequences, the per-user
    raw shape, and event_transitions, the first-order summary): the
    TOP-K most common user journeys, where a journey is each user's
    FIRST ``PATH_FIRST_N`` event types in chronological order joined
    with ``>`` — the product-analytics "top paths" report.

    Determinism: the prefix is picked by a (ts, event_id) row_number
    (a total order), re-sorted chronologically via sort_array on the
    (ts, event_id, event_type) struct (collect_list order is
    partition-dependent), and the top-k tie-breaks on the path string.

    Scale shape: one shuffle on user_id (ranking window + collect,
    same key, per-user state capped at PATH_FIRST_N before any array
    materializes), one shuffle on the path string (cardinality ≤
    |event_types|^N — a dimension, not a fact), and the top-k is
    TakeOrderedAndProject. No global sort at any scale."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = t["events"].select(
        "user_id", "ts", "event_id", "event_type",
        F.row_number().over(w).alias("rn"),
    )
    paths = (
        ranked.filter(F.col("rn") <= PATH_FIRST_N)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(PATH_TOP_K)
    )


EVENT_PATHS_SQL = f"""
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS rn
  FROM events
),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ranked WHERE rn <= {PATH_FIRST_N}
  GROUP BY 1
)
SELECT path, n_users
FROM (
  SELECT path, COUNT(*) AS n_users,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS rk
  FROM paths GROUP BY 1
)
WHERE rk <= {PATH_TOP_K}
"""


# --- TS: CUSUM change-point flags over the daily series ---------------------
CUSUM_REF_DAYS = 7
CUSUM_SLACK_SCALED = 14   # ≡ 2 events/day allowance × REF_DAYS scale
CUSUM_H_SCALED = 140      # ≡ 20-event cumulative excursion × REF_DAYS


def cusum_shift_flags(t: Tables) -> DataFrame:
    """TS change-point detection (the sequential sibling of
    daily_anomaly_flags' independent 3σ test): one-sided CUSUM over
    each event type's daily count series. The reference level is the
    first ``CUSUM_REF_DAYS`` observed days' total; to stay in exact
    integers the recursion runs ×REF_DAYS-scaled:

        dev_d   = REF_DAYS·x_d − ref_sum − SLACK_SCALED
        cusum_d = max(0, cusum_{d-1} + dev_d),  flag = cusum_d > H

    CUSUM is a prefix-dependent nonlinear recursion — not expressible
    as a window function in either engine — so the Spark side folds a
    per-type chronologically sorted (day, x) array with F.aggregate
    (the series is calendar-bounded: per-type state is days, not
    events) and the oracle replays the identical recursion as a
    WITH RECURSIVE CTE. All-integer arithmetic ⇒ bit-equal
    cross-engine under any partitioning.

    Scale shape: one keyed shuffle to (type, day) counts — the only
    corpus-sized motion — then one shuffle of the day-count frame to
    per-type arrays (≤ days rows per type). The fold is map-side over
    a bounded array. Gap days are absent by construction (observed-day
    series; compose with daily_gapfill for calendar semantics)."""
    daily = (
        t["events"]
        .groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    r, s = CUSUM_REF_DAYS, CUSUM_SLACK_SCALED
    per_type = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("a")
    )
    ref_sum = F.aggregate(
        F.slice("a", 1, r),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e["x"],
    )
    with_ref = per_type.withColumn("ref_sum", ref_sum)
    cusums = F.aggregate(
        "a",
        F.array().cast("array<long>"),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.when(F.size(acc) == 0, F.lit(0).cast("long"))
                    .otherwise(F.element_at(acc, F.size(acc)))
                    + F.lit(r) * e["x"] - F.col("ref_sum") - F.lit(s),
                )
            ),
        ),
    )
    zipped = with_ref.select(
        "event_type",
        F.posexplode(F.arrays_zip("a", cusums.alias("c"))).alias(
            "pos", "z"
        ),
    )
    return zipped.select(
        "event_type",
        F.col("z.a.day").alias("day"),
        F.col("z.a.x").alias("daily_count"),
        F.col("z.c").alias("cusum"),
        (F.col("z.c") > F.lit(CUSUM_H_SCALED)).alias("shift_flag"),
    )


CUSUM_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         COUNT(*) AS x
  FROM events GROUP BY 1, 2
),
numbered AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY day
  ) AS rn
  FROM daily
),
ref AS (
  SELECT event_type, CAST(SUM(x) AS BIGINT) AS ref_sum
  FROM numbered WHERE rn <= {CUSUM_REF_DAYS} GROUP BY 1
),
rec AS (
  SELECT n.event_type, n.day, n.x, n.rn,
         GREATEST(0, {CUSUM_REF_DAYS} * n.x - r.ref_sum
                     - {CUSUM_SLACK_SCALED}) AS cusum
  FROM numbered n JOIN ref r USING (event_type)
  WHERE n.rn = 1
  UNION ALL
  SELECT n.event_type, n.day, n.x, n.rn,
         GREATEST(0, rec.cusum + {CUSUM_REF_DAYS} * n.x - r.ref_sum
                     - {CUSUM_SLACK_SCALED})
  FROM rec
  JOIN numbered n
    ON n.event_type = rec.event_type AND n.rn = rec.rn + 1
  JOIN ref r ON r.event_type = n.event_type
)
SELECT event_type, day, x AS daily_count,
       CAST(cusum AS BIGINT) AS cusum,
       cusum > {CUSUM_H_SCALED} AS shift_flag
FROM rec
"""


# --- TS: conversion latency, exact disc-quantiles ---------------------------
def conversion_latency(t: Tables) -> DataFrame:
    """TS funnel-latency readout (composes the bounded range join with
    the exact disc-quantile discipline): for every purchase, the
    NEAREST same-user click at-or-before it within 10 minutes, then
    the latency distribution as one row — count, p25/p50/p90 (exact
    discrete quantiles: the value at row ceil(q·n) of the sorted
    order, integer index arithmetic — no interpolating percentile()
    whose even-n averaging is float) and max.

    Latency is microsecond-exact (the sessionize lesson: truncated
    seconds silently diverge on sub-second data), emitted as whole
    seconds by integer division.

    Scale shape: the pair stream comes from the 3-bin probe equi-join
    (shuffle ≤ 3× input, never NLJ); nearest-per-purchase rides a
    purchase-keyed window. The final rank runs in ONE global window
    over the CONVERSION-sized frame (matched purchases only — the
    customer_ltv_deciles precedent: at 100 TB of events this is still
    entity-sized; the epoch_batches two-pass bucket rank is the
    escalation path if it ever isn't)."""
    from ..operators.temporal import bucketized_range_join

    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("user_id"), F.col("ts").alias("c_ts"),
    )
    pairs = bucketized_range_join(
        purchases, clicks, on="user_id", left_ts="p_ts", right_ts="c_ts",
        max_gap_seconds=600,
    ).withColumn(
        "gap_us",
        F.unix_micros(F.col("p_ts").cast("timestamp"))
        - F.unix_micros(F.col("c_ts").cast("timestamp")),
    ).filter((F.col("gap_us") >= 0) & (F.col("gap_us") <= 600 * 1_000_000))
    nearest = (
        pairs.withColumn(
            "nr",
            F.row_number().over(
                Window.partitionBy("purchase_id").orderBy(
                    "gap_us", "click_id"
                )
            ),
        )
        .filter(F.col("nr") == 1)
        .select("purchase_id", (F.col("gap_us") / F.lit(1_000_000)).cast("long").alias("gap_s"))
    )
    w = Window.orderBy("gap_s", "purchase_id")
    ranked = nearest.select(
        "gap_s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    q = lambda num: F.expr(f"(n * {num} + 99) div 100")  # noqa: E731
    return ranked.agg(
        F.max("n").alias("n_conversions"),
        F.max(F.when(F.col("rn") == q(25), F.col("gap_s"))).alias("p25_gap_s"),
        F.max(F.when(F.col("rn") == q(50), F.col("gap_s"))).alias("p50_gap_s"),
        F.max(F.when(F.col("rn") == q(90), F.col("gap_s"))).alias("p90_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


CONVERSION_LATENCY_SQL = """
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'click'
), pairs AS (
  SELECT purchase_id, click_id,
         epoch_us(p_ts) - epoch_us(c_ts) AS gap_us
  FROM purchases p JOIN clicks c USING (user_id)
  WHERE epoch_us(p_ts) - epoch_us(c_ts) BETWEEN 0 AND 600000000
), nearest AS (
  SELECT purchase_id, gap_us // 1000000 AS gap_s
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY purchase_id ORDER BY gap_us, click_id
    ) AS nr
    FROM pairs
  ) WHERE nr = 1
), ranked AS (
  SELECT gap_s,
         ROW_NUMBER() OVER (ORDER BY gap_s, purchase_id) AS rn,
         COUNT(*) OVER () AS n
  FROM nearest
)
SELECT CAST(MAX(n) AS BIGINT) AS n_conversions,
       MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN gap_s END) AS p25_gap_s,
       MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN gap_s END) AS p50_gap_s,
       MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN gap_s END) AS p90_gap_s,
       MAX(gap_s) AS max_gap_s
FROM ranked
"""
