"""Event-pipeline operators over the `events` stream table.

Each operator re-expresses a capability of the reference (file:line cited per
function) as a declarative DataFrame transform. The same transforms run
unchanged on a Structured Streaming DataFrame (see jitsu_spark.streaming);
here they are exposed batch-first so the DuckDB oracle can check them.

Scale notes: every groupBy below carries partial aggregation; the heavy
groupings (minute rollup, per-user folds) key on high-cardinality columns
(user_id, minute) so the shuffle is well-spread; no driver-side collect
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import EVENTS_TS_US_SQL, load_table

SESSION_GAP_MIN = 30


def event_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — event-type/name filter.

    Reference: `libs/core-functions/src/functions/lib/index.ts:231-242`
    (CSV of allowed types); connection option `events`
    (`webapps/console/lib/schema/destinations.tsx:126`).
    Plain isin predicate -> pushed down to the parquet scan.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type").isin("purchase", "signup")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


EVENT_TYPE_FILTER_SQL = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE event_type IN ('purchase', 'signup')
"""


def metrics_rollup_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — per-minute status rollup.

    Reference: `services/rotor/src/lib/metrics.ts:140-196` (minute-truncated
    timestamp, status counts, events=1 rows summed downstream).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("period"),
            F.col("event_type").alias("status"),
        )
        .agg(F.count(F.lit(1)).alias("events"))
    )


METRICS_ROLLUP_MINUTE_SQL = """
SELECT date_trunc('minute', ts) AS period,
       event_type AS status,
       count(*) AS events
FROM events
GROUP BY 1, 2
"""


def active_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — "active events/users" per period, exact-distinct flavor.

    Reference: `webapps/console/prisma/metrics.sql:2-29` (`uniqState` per
    hour) queried by `reports/active-events.ts:40-50` (`uniqMerge` per day).
    The sketch-state flavor the reference actually stores is
    `active_users_daily_approx` below; this exact variant is the simplest
    oracle contract.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("period"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("events"),
        )
    )


ACTIVE_USERS_DAILY_SQL = """
SELECT date_trunc('day', ts) AS period,
       count(DISTINCT user_id) AS active_users,
       count(*) AS events
FROM events
GROUP BY 1
"""


def active_users_daily_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the sketch-state flavor the reference stores: per-hour HLL
    state (`uniqState`, metrics.sql:2-29) merged up to per-day estimates
    (`uniqMerge`, active-events.ts:40-50). Datasketches HLL via
    hll_sketch_agg per hour, hll_union_agg across the day's hours, then
    estimate — the exact state/merge/finalize split of the reference MV.
    Per-day user cardinality at oracle SF is inside the sketch's exact
    (coupon) range, so the estimate hash-matches count(DISTINCT) while the
    plan is the genuinely mergeable one. Above that range (measured at
    sf0.1: ~3.3k users/day) the Datasketches and DuckDB estimators
    diverge by their design error (~2% observed) — an inherent property
    of comparing two approximate sketches, not a defect; the exact-twin
    `active_users_daily` is the cross-engine invariant at any scale."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_period")
    ).agg(
        F.hll_sketch_agg(F.col("user_id").cast("string")).alias("uniq_state"),
        F.count(F.lit(1)).alias("events"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour_period").alias("period"))
        .agg(
            F.hll_union_agg("uniq_state").alias("uniq_state"),
            F.sum("events").alias("events"),
        )
        .select(
            "period",
            F.hll_sketch_estimate("uniq_state").alias("active_users"),
            "events",
        )
    )


ACTIVE_USERS_APPROX_SQL = """
SELECT date_trunc('day', ts) AS period,
       count(DISTINCT user_id) AS active_users,
       CAST(count(*) AS BIGINT) AS events
FROM events
GROUP BY 1
"""


def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — value-distribution quantiles per event type (the reference's
    ClickHouse reporting idiom `quantile(level)(value)`).

    Exact linear-interpolation percentile (Spark `percentile` == DuckDB
    `quantile_cont`, verified bit-equal). Scale note: the exact aggregate
    buffers each group's values — at 100 TB swap `F.percentile` for
    `F.percentile_approx` (t-digest sketch: mergeable, bounded memory,
    identical plan shape); the exact variant is the oracle contract.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.5), 6).alias("p50"),
            F.round(F.percentile("value", 0.9), 6).alias("p90"),
            F.round(F.percentile("value", 0.99), 6).alias("p99"),
            F.round(F.max("value"), 6).alias("vmax"),
        )
        .orderBy("event_type")
    )


EVENT_VALUE_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       round(max(value), 6) AS vmax
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def report_event_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — the console report query: period x status counts.

    Reference: `webapps/console/pages/api/[workspaceId]/reports/event-stat.ts:40-56`
    (`date_trunc(granularity), sumMerge(events) ... GROUP BY period, status
    ORDER BY period desc`).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("period"),
            F.col("event_type").alias("status"),
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy(F.desc("period"), F.desc("events"))
    )


REPORT_EVENT_STAT_SQL = """
SELECT date_trunc('day', ts) AS period,
       event_type AS status,
       count(*) AS events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY period DESC, events DESC
"""


def report_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 extension — the report with subtotal rows via GROUPING SETS:
    (day, status), per-day totals, and the grand total in ONE pass
    (SURVEY §2.6: the reference has no grouping sets; Catalyst plans them
    as a single expanded aggregate — one scan, one shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT date_trunc('day', ts) AS period,
               event_type AS status,
               count(*) AS events
        FROM events_gs
        GROUP BY GROUPING SETS ((date_trunc('day', ts), event_type),
                                (date_trunc('day', ts)),
                                ())
        """
    )


REPORT_ROLLUP_TOTALS_SQL = """
SELECT date_trunc('day', ts) AS period,
       event_type AS status,
       count(*) AS events
FROM events
GROUP BY GROUPING SETS ((date_trunc('day', ts), event_type),
                        (date_trunc('day', ts)),
                        ())
"""


def signup_no_purchase_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 set operations: users who signed up but never purchased, as
    EXCEPT (plans as a left-anti aggregate join — one shuffle per side on
    user_id, no row payload beyond the key)."""
    ev = load_table(spark, sf_dir, "events")
    signed = ev.where(F.col("event_type") == "signup").select("user_id")
    purchased = ev.where(F.col("event_type") == "purchase").select("user_id")
    # subtract == SQL EXCEPT (set semantics)
    return signed.subtract(purchased).orderBy("user_id")


SIGNUP_NO_PURCHASE_SQL = """
SELECT DISTINCT user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'signup'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
ORDER BY user_id
"""


def events_log_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 — events-log tail: newest N entries.

    Reference: `webapps/console/pages/api/[workspaceId]/log/[type]/[actorId].ts:54-61`
    (`ORDER BY timestamp DESC LIMIT n`). event_id is the deterministic
    tiebreak. Spark plans TakeOrderedAndProject: per-partition top-k then a
    k-row merge on the driver — no global sort at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.asc("event_id"))
        .select("event_id", "ts", "user_id", "event_type")
        .limit(100)
    )


EVENTS_LOG_TAIL_SQL = """
SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, user_id, event_type
FROM events
ORDER BY ts DESC, event_id ASC
LIMIT 100
"""


def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/P5 — JSON property extraction from the open `props` bag.

    Reference: open `properties` bag handling
    (`libs/core-functions/src/functions/lib/index.ts:161-225`), JSON
    stringify/parse of nested fields
    (`libs/core-functions/src/functions/bulker-destination.ts:352-363`).
    get_json_object stays JVM-side (Jackson) — no Python in the hot path.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("bigint").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


PROPS_JSON_EXTRACT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       count(*) AS cnt
FROM events
GROUP BY 1
"""


def profile_traits_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/A1-lite — per-user last-write-wins fold + lifetime aggregates.

    Reference: `services/profiles/src/builder.ts:211-220` (Object.assign fold
    of identify traits, last write wins) and first-touch semantics at
    `libs/core-functions/src/functions/mixpanel-destination.ts:309-334`.
    max_by/min_by are single-pass JVM aggregates — no window, no second
    shuffle; (ts, event_id) pairs are unique so the fold is deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    # Deterministic total order as a sortable string (ts then event_id):
    # DuckDB's arg_max/arg_min take a single scalar key, so both sides use
    # the same zero-padded key.
    order_key = (
        "concat(lpad(cast(unix_micros(ts) as string), 20, '0'),"
        " lpad(cast(event_id as string), 12, '0'))"
    )
    return ev.groupBy("user_id").agg(
        F.expr(f"max_by(event_type, {order_key})").alias("last_event_type"),
        F.expr(f"min_by(event_type, {order_key})").alias("first_event_type"),
        F.max("ts").alias("last_seen"),
        F.min("ts").alias("first_seen"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


PROFILE_TRAITS_FOLD_SQL = """
SELECT user_id,
       arg_max(event_type, printf('%020d', epoch_us(ts)) || printf('%012d', event_id)) AS last_event_type,
       arg_min(event_type, printf('%020d', epoch_us(ts)) || printf('%012d', event_id)) AS first_event_type,
       max(make_timestamp(epoch_ns(ts) // 1000)) AS last_seen,
       min(make_timestamp(epoch_ns(ts) // 1000)) AS first_seen,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
"""


def sessionize_df(ev: DataFrame) -> DataFrame:
    """Gap-based sessionization core over any (user_id, ts, event_id)
    frame — shared by the registry entry and the bucketed-layout path
    (`plans/bucketing.py`), where the input's bucketing makes the
    user_id exchange disappear entirely."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = SESSION_GAP_MIN * 60
    with_gap = ev.withColumn(
        "new_session",
        (
            F.col("ts").cast("double")
            - F.coalesce(F.lag("ts").over(w).cast("double"), F.lit(0.0))
            > gap_sec
        ).cast("int"),
    )
    sessions = with_gap.withColumn(
        "session_id", F.sum("new_session").over(w)
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(
                F.avg(
                    F.col("session_end").cast("double")
                    - F.col("session_start").cast("double")
                ),
                2,
            ).alias("avg_session_sec"),
        )
    )


def sessionize_native_df(ev: DataFrame) -> DataFrame:
    """Structured-Streaming-native twin of `sessionize_df`: Spark's
    built-in `session_window` (the operator a streaming deployment would
    use — state-store-backed there, plain aggregation in batch) instead
    of the lag/cumsum windows. Same output schema and the SAME boundary
    convention (an event exactly gap seconds after the previous one
    stays in the session: session_window's end bound is inclusive,
    matching the lag form's strict `>` gap test — pinned at the exact
    boundary in tests/test_reports.py); pinned equal on the corpus."""
    sess = ev.groupBy(
        "user_id",
        F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(
                F.avg(
                    F.col("session_end").cast("double")
                    - F.col("session_start").cast("double")
                ),
                2,
            ).alias("avg_session_sec"),
        )
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4-analog — gap-based sessionization (30-min inactivity gap).

    The reference expresses session-ish state via TTL'd KV buffers
    (`libs/core-functions/src/functions/lib/store.ts:7`, user-recognition
    event buffers `user-recognition.ts:24-82`); the relational equivalent is
    a per-user lag window. Single shuffle on user_id; both window and the
    final groupBy reuse that partitioning (no second exchange) — and a
    user_id-bucketed table layout removes even that one
    (`plans/bucketing.py`)."""
    return sessionize_df(load_table(spark, sf_dir, "events"))


SESSIONIZE_SQL = f"""
WITH ev AS (
  -- Parquet stores events.ts as TIMESTAMP(NANOS); Spark loads it truncated to
  -- micros (tables.py EVENTS_TS_US_SQL convention), so the oracle must compute
  -- epoch() on the same micro-truncated timestamps or gap comparisons diverge
  -- in the sub-microsecond digits.
  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, event_id
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - coalesce(epoch(lag(ts) OVER w), 0.0) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         min(ts) AS session_start, max(ts) AS session_end
  FROM numbered
  GROUP BY 1, 2
)
SELECT user_id,
       count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       round(avg(epoch(session_end) - epoch(session_start)), 2) AS avg_session_sec
FROM per_session
GROUP BY user_id
"""


def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel — signup -> purchase conversion per user.

    Capability analog of the reference's per-user event-sequence analysis
    (profile builder scanning user history, `services/profiles/src/builder.ts:294-303`).
    Conditional aggregation: one shuffle on user_id, no self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return per_user.select(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        F.count(
            F.when(F.col("first_purchase") > F.col("first_signup"), F.lit(1))
        ).alias("n_converted"),
    )


FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'   THEN ts END) AS first_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events
  GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(first_signup) AS n_signed_up,
       count(CASE WHEN first_purchase > first_signup THEN 1 END) AS n_converted
FROM per_user
"""




def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_converted, p50_hours, p90_hours, max_hours): the signup ->
    first-subsequent-purchase latency distribution — the "how long does
    conversion take" report next to `funnel_signup_purchase`'s counts.
    Two chained O(1)-state aggregates instead of a per-user
    collect_list: pass 1 takes the signup watermark per user
    (conditional min); pass 2 joins the purchase rows against it and
    takes the filtered min. A collect_list buffer is bounded only by
    the user's own purchase count — exactly unbounded for the
    bot/abuse keys `user_burst_detection` exists to catch (round-9
    ADVICE; the same hot-key pathology the r8 abuse-detector rewrite
    removed). The post-join groupBy reuses the join's user_id hash
    partitioning, so this stays two shuffles of skinny frames with
    constant per-key state. Exact linear-interpolation percentiles
    (Spark `percentile` == DuckDB `quantile_cont`); at 100 TB swap for
    percentile_approx (t-digest) — same plan shape.
    """
    ev = load_table(spark, sf_dir, "events")
    signups = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("event_type") == "signup", F.unix_micros("ts")
                )
            ).alias("signup_us")
        )
        .where(F.col("signup_us").isNotNull())
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    lat = (
        purchases.join(signups, "user_id")
        .where(F.col("us") > F.col("signup_us"))
        .groupBy("user_id", "signup_us")
        .agg(F.min("us").alias("conv_us"))
        .selectExpr("(conv_us - signup_us) / 3600000000.0D AS hours")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("hours", 0.5), 4).alias("p50_hours"),
        F.round(F.percentile("hours", 0.9), 4).alias("p90_hours"),
        F.round(F.max("hours"), 4).alias("max_hours"),
    )


TIME_TO_CONVERT_SQL = """
WITH ev AS (
  SELECT user_id, event_type,
         epoch_us(make_timestamp(epoch_ns(ts) // 1000)) AS us
  FROM events
), per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN us END) AS signup_us
  FROM ev GROUP BY 1
), conv AS (
  SELECT p.user_id,
         (min(e.us) - p.signup_us) / 3600000000.0 AS hours
  FROM per_user p
  JOIN ev e ON e.user_id = p.user_id
            AND e.event_type = 'purchase' AND e.us > p.signup_us
  WHERE p.signup_us IS NOT NULL
  GROUP BY p.user_id, p.signup_us
)
SELECT count(*) AS n_converted,
       round(quantile_cont(hours, 0.5), 4) AS p50_hours,
       round(quantile_cont(hours, 0.9), 4) AS p90_hours,
       round(max(hours), 4) AS max_hours
FROM conv
"""


def ur_backfill_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (batch form) — retroactive identity enrichment.

    Reference: user recognition buffers anonymous events and back-fills
    identity once an identify event arrives
    (`libs/core-functions/src/functions/user-recognition.ts:24-82`). Batch
    equivalent: left-join events against the per-user identity watermark
    (first signup ts) and tag each event pre/post identification. The
    identity side is a tiny aggregate -> broadcast join, no shuffle of the
    event stream.
    """
    ev = load_table(spark, sf_dir, "events")
    identities = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("identified_at")
    )
    return (
        ev.join(identities, "user_id", "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            (
                F.col("identified_at").isNotNull()
                & (F.col("ts") >= F.col("identified_at"))
            ).alias("identified"),
        )
    )


UR_BACKFILL_SQL = """
WITH identities AS (
  SELECT user_id, min(ts) AS identified_at
  FROM events
  WHERE event_type = 'signup'
  GROUP BY user_id
)
SELECT e.event_id,
       e.user_id,
       e.event_type,
       (i.identified_at IS NOT NULL AND e.ts >= i.identified_at) AS identified
FROM events e
LEFT JOIN identities i USING (user_id)
"""


def metrics_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(minute, events): the per-minute event series with EVERY minute
    between the first and last event present — zero rows filled in. The
    time-series resample every dashboard/alert layer runs before
    plotting or windowing (the reference's per-minute rollups
    `prisma/metrics.sql:85-110` leave gaps; its readers re-grid).

    Scale: the heavy side is one partial-aggregated minute rollup of the
    raw events; the grid is generated from a 1-row min/max aggregate
    (bounded by the time span — ~526k rows/year — never by event count)
    and left-joins the rollup on the minute key. No corpus sort, no
    Python."""
    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).alias("ev"))
    grid = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("t0"),
        F.date_trunc("minute", F.max("ts")).alias("t1"),
    ).selectExpr("explode(sequence(t0, t1, interval 1 minute)) AS minute")
    return grid.join(per_min, grid["minute"] == per_min["m"], "left").select(
        "minute", F.coalesce(F.col("ev"), F.lit(0)).alias("events")
    )


METRICS_GAP_FILL_SQL = """
WITH per_min AS (
  SELECT date_trunc('minute', ts) AS m, count(*) AS ev
  FROM events GROUP BY 1
), bounds AS (
  SELECT date_trunc('minute', min(ts)) AS t0,
         date_trunc('minute', max(ts)) AS t1
  FROM events
), grid AS (
  SELECT unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS minute
  FROM bounds
)
SELECT minute, CAST(coalesce(ev, 0) AS BIGINT) AS events
FROM grid LEFT JOIN per_min ON m = minute
"""


def scd2_user_attribute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, attr, valid_from, valid_to, is_current): the type-2
    slowly-changing-dimension history of each user's `props.k` attribute
    — every change point opens a validity interval, closed by the next
    change, with the latest row open-ended. The warehouse-side history
    the reference's last-write-wins traits fold (J5,
    `services/profiles/src/builder.ts:211-220`) discards; a CDP keeps
    both: the fold for serving, the SCD2 table for audit/backtest.

    Scale: both windows (change detection via lag, interval close via
    lead) share ONE user_id partition spec — a single shuffle, the
    sessionize shape (zero-exchange on the bucketed layout). Change rows
    only carry (user, attr, ts); text/props never shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    attrs = ev.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "CAST(get_json_object(props, '$.k') AS INT) AS attr",
    )
    changes = attrs.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "attr",
        f"lag(attr) OVER ({w}) AS prev_attr",
        f"lag(ts) OVER ({w}) AS prev_ts",
    ).where(
        "prev_ts IS NULL OR attr IS DISTINCT FROM prev_attr"
    )
    return changes.selectExpr(
        "user_id",
        "attr",
        "ts AS valid_from",
        f"lead(ts) OVER ({w}) AS valid_to",
        f"lead(ts) OVER ({w}) IS NULL AS is_current",
    )


SCD2_SQL = f"""
WITH ev AS (
  SELECT user_id, {EVENTS_TS_US_SQL} AS ts, event_id,
         TRY_CAST(json_extract_string(props, '$.k') AS INT) AS attr
  FROM events
), changes AS (
  SELECT user_id, ts, event_id, attr
  FROM (
    SELECT user_id, ts, event_id, attr,
           lag(attr) OVER w AS prev_attr,
           lag(ts) OVER w AS prev_ts
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )
  WHERE prev_ts IS NULL OR attr IS DISTINCT FROM prev_attr
)
SELECT user_id, attr,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, dau, wau, mau, stickiness): daily/weekly/monthly active
    users per calendar day with DAU/MAU stickiness — the CDP engagement
    report on the events the pipeline lands (extends A4/A6's distinct-
    user family with rolling windows).

    Exact rolling distincts WITHOUT a per-day window scan: the corpus
    reduces to distinct (user, day) pairs once (partial-agg friendly),
    then each pair EXPLODES to the few future days it contributes to
    (1 for DAU, 7 for WAU, 30 for MAU) and one distinct-count per
    contribution day finishes it. Shuffled rows are bounded by
    n_user_days x 38 skinny pairs — independent of raw event count; the
    sketch alternative (per-day HLL union) trades exactness for even
    less, but the exact form is what the oracle can verify. Days with
    no activity have no row (same as the oracle); stickiness is exact
    integer division rounded to 4."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.col("user_id"), F.to_date("ts").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    wau = (
        ud.selectExpr(
            "user_id", "explode(sequence(day, day + 6)) AS day"
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    mau = (
        ud.selectExpr(
            "user_id", "explode(sequence(day, day + 29)) AS day"
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .selectExpr(
            # TIMESTAMP like every period column here (date_trunc convention)
            "CAST(day AS TIMESTAMP) AS day",
            "dau", "wau", "mau",
            "round(dau / mau, 4) AS stickiness",
        )
    )


DAU_WAU_MAU_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST({EVENTS_TS_US_SQL} AS DATE) AS day
  FROM events
),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
wau AS (
  SELECT CAST(day + to_days(CAST(i AS INTEGER)) AS DATE) AS day, count(DISTINCT user_id) AS wau
  FROM ud, unnest(range(0, 7)) AS t(i) GROUP BY 1
),
mau AS (
  SELECT CAST(day + to_days(CAST(i AS INTEGER)) AS DATE) AS day, count(DISTINCT user_id) AS mau
  FROM ud, unnest(range(0, 30)) AS t(i) GROUP BY 1
)
SELECT CAST(day AS TIMESTAMP) AS day, dau, wau, mau,
       round(dau * 1.0 / mau, 4) AS stickiness
FROM dau JOIN wau USING (day) JOIN mau USING (day)
"""


BURST_WINDOW_SEC = 300
BURST_FLAG_COUNT = 20


def user_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, max_burst, flagged): each user's maximum
    event count inside any trailing 5-minute window, flagged above
    BURST_FLAG_COUNT — the rate-anomaly signal behind abuse/bot triage,
    the volumetric complement of P3's user-agent bot filter
    (`libs/core-functions/src/functions/lib/ua.ts:6,22`: UA-keyword
    bots; headless clients with clean UAs only show up as bursts).

    Exact sliding window via a RANGE frame over event-time seconds —
    one user_id shuffle (the sessionize shape), each frame bounded by
    the user's own 5-minute activity. The per-user reduce then collapses
    to one row per user (partial-agg friendly)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        "PARTITION BY user_id ORDER BY CAST(ts AS DOUBLE)"
        f" RANGE BETWEEN {BURST_WINDOW_SEC} PRECEDING AND CURRENT ROW"
    )
    bursts = ev.selectExpr(
        "user_id",
        f"count(*) OVER ({w}) AS burst",
    )
    return (
        bursts.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("burst").alias("max_burst"),
        )
        .selectExpr(
            "user_id",
            "n_events",
            "max_burst",
            f"max_burst > {BURST_FLAG_COUNT} AS flagged",
        )
    )


USER_BURST_SQL = f"""
WITH ev AS (
  SELECT user_id, {EVENTS_TS_US_SQL} AS ts FROM events
), bursts AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                        RANGE BETWEEN {BURST_WINDOW_SEC} PRECEDING
                        AND CURRENT ROW) AS burst
  FROM ev
)
SELECT user_id, count(*) AS n_events,
       CAST(max(burst) AS BIGINT) AS max_burst,
       max(burst) > {BURST_FLAG_COUNT} AS flagged
FROM bursts GROUP BY user_id
"""




# L7/L28 engagement histogram (round 8) — the growth-team staple next
# to DAU/MAU: how many of the trailing 7 / 28 days (anchored at the
# corpus's newest day, both endpoints inclusive) each user was active,
# binned into a (window_days, days_active, n_users) histogram. The
# "smile curve" shape of the L28 histogram is the standard habit-vs-
# churn diagnostic. Same scale contract as dau_wau_mau: the corpus
# reduces ONCE to distinct (user, day) pairs; everything after is
# user-count-sized, and the histogram is value-bounded (<= 28 rows per
# window).
ENGAGEMENT_WINDOWS = (7, 28)


def engagement_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(window_days, days_active, n_users): per trailing window, the
    user count at each activity level. Users with zero active days in a
    window have no row (unknowable population), matching the oracle.

    One events scan (round-9, VERDICT r8 #6): the per-user activity
    counts for EVERY window come out of a single conditional
    aggregation (`count(when(day > anchor - w))` per window), and that
    user-count-sized frame is persisted before the per-window histogram
    arms re-aggregate it — AQE exchange reuse across union branches is
    not guaranteed, so without the persist the events scan + distinct
    ran once per window arm."""
    from ..plans.topk import persist_bounded

    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    anchor = ud.agg(F.max("day").alias("anchor"))
    per_user = persist_bounded(
        ud.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            *[
                F.count(
                    F.when(
                        F.expr(f"day > anchor - INTERVAL {w} DAYS"),
                        F.lit(1),
                    )
                ).alias(f"l{w}")
                for w in ENGAGEMENT_WINDOWS
            ]
        )
    )
    parts = []
    for w in ENGAGEMENT_WINDOWS:
        parts.append(
            per_user.where(F.col(f"l{w}") > 0)
            .groupBy(F.col(f"l{w}").alias("days_active"))
            .agg(F.count(F.lit(1)).alias("n_users"))
            .selectExpr(f"{w} AS window_days", "days_active", "n_users")
        )
    out = parts[0]
    for px in parts[1:]:
        out = out.unionByName(px)
    return out


_ENGAGEMENT_ARMS = " UNION ALL ".join(
    f"SELECT {w} AS window_days, user_id, count(*) AS days_active"
    " FROM ud CROSS JOIN anchor"
    f" WHERE day > anchor - INTERVAL {w} DAY"
    " GROUP BY 1, 2"
    for w in ENGAGEMENT_WINDOWS
)

ENGAGEMENT_HIST_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), anchor AS (
  SELECT max(day) AS anchor FROM ud
), counted AS (
  {_ENGAGEMENT_ARMS}
)
SELECT window_days, days_active, count(*) AS n_users
FROM counted
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# k-anonymity release report: before an events extract is shared, every
# equivalence class of the released quasi-identifiers (event_type, event
# day, the open `props.k` attribute) must contain at least K_ANON distinct
# users — classes below the bar must be suppressed or generalized
# (Sweeney 2002). The report is the gate's working set: one row per class
# with its user count and verdict. Complements `pii_redact` (content
# redaction) with the release-side structural check the reference's GDPR
# tooling (`services/console/.../gdpr`) leaves to the warehouse.
#
# Scale: one shuffle on the class key; the distinct-user count rides the
# same aggregate (partial count-distinct per map side). No corpus-wide
# sort, no driver loop.
# ---------------------------------------------------------------------------

K_ANON = 5


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.col("event_type"),
            F.date_trunc("day", "ts").alias("day"),
            F.get_json_object("props", "$.k").cast("bigint").alias("k_prop"),
            F.col("user_id"),
        )
        .groupBy("event_type", "day", "k_prop")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .withColumn("anonymous", F.col("n_users") >= F.lit(K_ANON))
    )


K_ANONYMITY_SQL = f"""
SELECT event_type,
       date_trunc('day', ts) AS day,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_prop,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT user_id) >= {K_ANON} AS anonymous
FROM events
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Shuffle-key skew report: the diagnosis a 100 TB job runs BEFORE keying a
# join/agg on a candidate column — per-key frequency heavy hitters, their
# share of the table, and the salt factor that would level the largest
# reducer to ~4x the mean. This is the planning query behind SCALING.md's
# salting guidance (AQE skew-join handles joins adaptively; aggregations
# and custom stateful ops still need an explicit salt picked from data).
#
# Exactness: shares in integer per-mille; the mean is taken FIRST as the
# integer n_rows div n_keys (>= 1 since every key has >= 1 row), then
# max_over_mean_pm = (max_cnt * 1000) div mean and
# salt = ceil(max_cnt / (4 * mean)) — max_cnt * n_keys would overflow
# int64 at ~1e8 keys x 1e8-row hot key (Spark wraps silently, DuckDB
# raises); max_cnt * 1000 is safe to ~9e15 rows per key. Top-10 is
# `ORDER BY cnt DESC, key LIMIT 10` — Spark runs TakeOrdered
# (per-partition heap + driver merge of 10-row heads), never a full sort.
# ---------------------------------------------------------------------------

SKEW_TOP_K = 10
SKEW_TARGET_MULT = 4


def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key")).limit(SKEW_TOP_K)
    return top.crossJoin(F.broadcast(stats)).selectExpr(
        "key",
        "cnt",
        "n_keys",
        "(cnt * 1000) div n_rows AS share_pm",
        "(max_cnt * 1000) div (n_rows div n_keys) AS max_over_mean_pm",
        f"greatest(1L, (max_cnt + {SKEW_TARGET_MULT} * (n_rows div n_keys)"
        f" - 1) div ({SKEW_TARGET_MULT} * (n_rows div n_keys))) AS salt_n",
    )


KEY_SKEW_SQL = f"""
WITH counts AS (
  SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1
),
stats AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         count(*) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_cnt
  FROM counts
),
top AS (
  SELECT key, cnt FROM counts ORDER BY cnt DESC, key LIMIT {SKEW_TOP_K}
)
SELECT key, cnt, n_keys,
       (cnt * 1000) // n_rows AS share_pm,
       (max_cnt * 1000) // (n_rows // n_keys) AS max_over_mean_pm,
       greatest(1, (max_cnt + {SKEW_TARGET_MULT} * (n_rows // n_keys) - 1)
                // ({SKEW_TARGET_MULT} * (n_rows // n_keys))) AS salt_n
FROM top, stats
"""


# ---------------------------------------------------------------------------
# Behavior-sequence training examples: next-event-prediction pairs mined
# from the event stream — per user in time order, (previous K event types)
# -> (current event type). The sequence-model training surface over
# behavioral data (session-based recommendation / user-action LMs ride
# exactly this extraction); joins the documents-side training-data family
# to the engine's event side.
#
# Determinism: ordering is (ts, event_id) with the oracle ordering on the
# SAME µs-truncated timestamp Spark reads (sub-µs ns digits would
# otherwise win ties event_id settles). Scale: one shuffle on user_id for
# the window; lag() is a linear pass per partition — no self-join, no
# explode.
# ---------------------------------------------------------------------------

SEQ_CONTEXT_K = 3


def behavior_sequence_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("label"),
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
        F.lag("event_type", 3).over(w).alias("prev3"),
        (F.row_number().over(w) - 1).cast("long").alias("n_prior"),
    )
    return out.where(F.col("prev1").isNotNull())


BEHAVIOR_SEQ_SQL = f"""
WITH ordered AS (
  SELECT user_id, event_id, event_type,
         {EVENTS_TS_US_SQL} AS ts_us
  FROM events
)
SELECT user_id, event_id, event_type AS label,
       lag(event_type, 1) OVER w AS prev1,
       lag(event_type, 2) OVER w AS prev2,
       lag(event_type, 3) OVER w AS prev3,
       CAST(row_number() OVER w - 1 AS BIGINT) AS n_prior
FROM ordered
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
QUALIFY prev1 IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Join-size estimate: the planning query behind choosing a join strategy —
# for each candidate join key, the EXACT self-equi-join output cardinality
# sum(c_k^2) (the upper-bound shape of joining this table against any
# table sharing its key distribution), the hottest key's contribution, and
# its per-mille share of the estimate. A skew share near 1000 means one
# key dominates the join output: salt it or pre-aggregate before joining.
#
# Both candidate keys ride ONE scan and ONE shuffle: the key name/value
# pairs are emitted scan-side via inline() and grouped together, so adding
# a candidate key costs no extra pass. sum(c^2) is int64-exact up to ~3e9
# rows per key — past that a 100 TB deployment has bigger problems than
# this report.
# ---------------------------------------------------------------------------


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.selectExpr(
        "inline(array("
        "named_struct('join_key', 'user_id', 'key_value',"
        " CAST(user_id AS STRING)),"
        "named_struct('join_key', 'event_type', 'key_value', event_type)))"
    )
    counts = keyed.groupBy("join_key", "key_value").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy("join_key").agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).alias("est_self_join_rows"),
        F.max("c").alias("max_key_rows"),
        # divide-first: max(c*c) * 1000 would overflow int64 at a hot key
        # of ~1e8 rows, 31x below the ~3e9 bound the block comment states
        F.expr(
            "least(1000L, max(c * c) div greatest(sum(c * c) div 1000, 1L))"
        ).alias("skew_share_pm"),
    )


JOIN_SIZE_SQL = """
WITH keyed AS (
  SELECT 'user_id' AS join_key, CAST(user_id AS VARCHAR) AS key_value
  FROM events
  UNION ALL
  SELECT 'event_type', event_type FROM events
),
counts AS (
  SELECT join_key, key_value, count(*) AS c FROM keyed GROUP BY 1, 2
)
SELECT join_key,
       CAST(sum(c) AS BIGINT) AS n_rows,
       count(*) AS n_distinct,
       CAST(sum(c * c) AS BIGINT) AS est_self_join_rows,
       CAST(max(c) AS BIGINT) AS max_key_rows,
       CAST(least(1000, max(c * c) // greatest(sum(c * c) // 1000, 1))
            AS BIGINT) AS skew_share_pm
FROM counts
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# A/B experiment significance report: users md5-bucket into variants
# (deterministic, the assignment every experimentation SDK ships),
# conversion = the user's purchase count clears AB_CONV_MIN (a binary
# ever-purchased flag is degenerate on the dense synthetic corpus —
# every user converts — so the threshold form is both the realistic
# "converted hard enough" metric and a discriminating one), and the 2x2
# chi-square decides significance at p < 0.05 (critical 3.841, df = 1).
# Degenerate margins (an empty row/column) define chi2 = 0 explicitly
# rather than dividing by zero under ANSI mode.
#
# Exactness: counts are exact integers; the chi-square closed form
# N*(ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)) is evaluated in DOUBLE from
# those integers — each *, /, round is IEEE-correctly-rounded, so both
# engines produce the identical double before the round(,4) seam (the
# all-int64 form would overflow at (ad)^2 for ~1e5+ users per cell).
#
# Scale: one exact per-user aggregate (shuffle on user_id), then a 2-row
# conditional aggregate and a 1-row report. No windows, no joins.
# ---------------------------------------------------------------------------

AB_CHI2_CRIT = 3.841  # chi-square 0.95 quantile, df=1
AB_CONV_MIN = 14  # purchases needed to count as converted

_AB_CHI2 = (
    "CASE WHEN least(a + b, c + d, a + c, b + d) = 0 THEN 0.0 ELSE"
    " round(((a + b + c + d) * CAST(a * d - b * c AS DOUBLE)"
    " * CAST(a * d - b * c AS DOUBLE))"
    " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
    " * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)), 4) END"
)


def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.expr(
            "CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1"
            f" ELSE 0 END) >= {AB_CONV_MIN} THEN 1 ELSE 0 END"
        ).alias("conv")
    )
    cells = users.selectExpr(
        "CASE WHEN CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 7),"
        " 16, 10) AS BIGINT) % 1000 < 500 THEN 'A' ELSE 'B' END AS variant",
        "conv",
    ).groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").cast("long").alias("n_converted"),
    )
    wide = cells.agg(
        F.sum(F.when(F.col("variant") == "A", F.col("n_converted"))).alias("a"),
        F.sum(
            F.when(F.col("variant") == "A", F.col("n_users") - F.col("n_converted"))
        ).alias("b"),
        F.sum(F.when(F.col("variant") == "B", F.col("n_converted"))).alias("c"),
        F.sum(
            F.when(F.col("variant") == "B", F.col("n_users") - F.col("n_converted"))
        ).alias("d"),
    )
    return wide.selectExpr(
        "a AS conv_a",
        "b AS nonconv_a",
        "c AS conv_b",
        "d AS nonconv_b",
        "(a * 1000) div greatest(a + b, 1L) AS conv_rate_a_pm",
        "(c * 1000) div greatest(c + d, 1L) AS conv_rate_b_pm",
        f"{_AB_CHI2} AS chi2",
        f"{_AB_CHI2} > {AB_CHI2_CRIT} AS significant",
    )


# the chi2 expression is already dialect-portable (CASE/least/round/DOUBLE)
_AB_CHI2_DUCK = _AB_CHI2

AB_TEST_SQL = f"""
WITH users AS (
  SELECT user_id,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= {AB_CONV_MIN} THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY 1
),
cells AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7))
                   ::UBIGINT AS BIGINT) % 1000 < 500
              THEN 'A' ELSE 'B' END AS variant,
         conv
  FROM users
),
wide AS (
  SELECT CAST(sum(CASE WHEN variant = 'A' THEN conv END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN variant = 'A' THEN 1 - conv END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN variant = 'B' THEN conv END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN variant = 'B' THEN 1 - conv END) AS BIGINT) AS d
  FROM cells
)
SELECT a AS conv_a, b AS nonconv_a, c AS conv_b, d AS nonconv_b,
       (a * 1000) // greatest(a + b, 1) AS conv_rate_a_pm,
       (c * 1000) // greatest(c + d, 1) AS conv_rate_b_pm,
       {_AB_CHI2_DUCK} AS chi2,
       {_AB_CHI2_DUCK} > {AB_CHI2_CRIT} AS significant
FROM wide
"""


QUERIES = {
    "event_type_filter": event_type_filter,
    "k_anonymity_report": k_anonymity_report,
    "key_skew_report": key_skew_report,
    "join_size_estimate": join_size_estimate,
    "ab_test_report": ab_test_report,
    "behavior_sequence_examples": behavior_sequence_examples,
    "engagement_histogram": engagement_histogram,
    "funnel_time_to_convert": funnel_time_to_convert,
    "metrics_rollup_minute": metrics_rollup_minute,
    "active_users_daily": active_users_daily,
    "active_users_daily_approx": active_users_daily_approx,
    "event_value_percentiles": event_value_percentiles,
    "report_event_stat": report_event_stat,
    "report_rollup_totals": report_rollup_totals,
    "signup_no_purchase_except": signup_no_purchase_except,
    "events_log_tail": events_log_tail,
    "props_json_extract": props_json_extract,
    "profile_traits_fold": profile_traits_fold,
    "sessionize": sessionize,
    "funnel_signup_purchase": funnel_signup_purchase,
    "ur_backfill_enrich": ur_backfill_enrich,
    "metrics_gap_fill": metrics_gap_fill,
    "scd2_user_attribute": scd2_user_attribute,
    "dau_wau_mau": dau_wau_mau,
    "user_burst_detection": user_burst_detection,
}

ORACLE = {
    "event_type_filter": EVENT_TYPE_FILTER_SQL,
    "k_anonymity_report": K_ANONYMITY_SQL,
    "key_skew_report": KEY_SKEW_SQL,
    "join_size_estimate": JOIN_SIZE_SQL,
    "ab_test_report": AB_TEST_SQL,
    "behavior_sequence_examples": BEHAVIOR_SEQ_SQL,
    "metrics_rollup_minute": METRICS_ROLLUP_MINUTE_SQL,
    "active_users_daily": ACTIVE_USERS_DAILY_SQL,
    "active_users_daily_approx": ACTIVE_USERS_APPROX_SQL,
    "event_value_percentiles": EVENT_VALUE_PERCENTILES_SQL,
    "report_event_stat": REPORT_EVENT_STAT_SQL,
    "report_rollup_totals": REPORT_ROLLUP_TOTALS_SQL,
    "signup_no_purchase_except": SIGNUP_NO_PURCHASE_SQL,
    "events_log_tail": EVENTS_LOG_TAIL_SQL,
    "props_json_extract": PROPS_JSON_EXTRACT_SQL,
    "profile_traits_fold": PROFILE_TRAITS_FOLD_SQL,
    "sessionize": SESSIONIZE_SQL,
    "engagement_histogram": ENGAGEMENT_HIST_SQL,
    "funnel_time_to_convert": TIME_TO_CONVERT_SQL,
    "funnel_signup_purchase": FUNNEL_SQL,
    "ur_backfill_enrich": UR_BACKFILL_SQL,
    "metrics_gap_fill": METRICS_GAP_FILL_SQL,
    "scd2_user_attribute": SCD2_SQL,
    "dau_wau_mau": DAU_WAU_MAU_SQL,
    "user_burst_detection": USER_BURST_SQL,
}
