"""CDP report queries: retention cohorts, event-transition matrix, and
metric anomaly detection — the analytics layer a warehouse-destination user
runs on the events the pipeline lands.

Capability context from the reference: the console's report family
(`webapps/console/lib/shared/reports.ts`, `prisma/metrics.sql` rollups)
establishes period-bucketed event statistics as first-class queries; these
extend that family with the three classic product-analytics shapes.

Scale notes (100 TB stance):
- `retention_cohorts` shuffles twice: once on user_id for the cohort
  assignment (a per-user MIN, partial-aggregated), once on the tiny
  (cohort_week, week_offset) key. User activity rows never carry text.
- `event_transitions` is one window shuffle on user_id (the same
  partitioning sessionize uses) followed by a 36-row aggregate — the
  transition matrix is constant-size regardless of corpus scale.
- `metrics_anomaly` aggregates to per-minute counts FIRST (bounded output:
  one row per minute), then windows over that tiny series — the trailing
  stats never touch raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import EVENTS_TS_US_SQL, load_table

# ---------------------------------------------------------------------------
# Retention cohorts
# ---------------------------------------------------------------------------


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week; for
    each later week, how many distinct cohort members were active.

    Output: (cohort_week, week_offset, n_users)."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    # cohort week as a window MIN over the same user_id clustering the
    # distinct produced — no aggregate + join-back, one user shuffle total
    return (
        weekly.selectExpr(
            "min(week) OVER (PARTITION BY user_id) AS cohort_week",
            "week",
        )
        .selectExpr(
            "cohort_week",
            "CAST(datediff(week, cohort_week) / 7 AS BIGINT) AS week_offset",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


RETENTION_SQL = """
WITH weekly AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY 1
)
SELECT cohort_week,
       date_diff('day', cohort_week, week) // 7 AS week_offset,
       count(*) AS n_users
FROM weekly JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Event-transition matrix
# ---------------------------------------------------------------------------


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-event transition counts (the first-order Markov
    matrix): lead() over (user_id, ts, event_id), then count by the
    (from, to) pair. Terminal events (no successor) are excluded."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.selectExpr(
        "user_id",
        "event_type AS from_type",
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        " AS to_type",
    )
    return (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# The window must order by the SAME µs-truncated timestamps Spark sees, or
# sub-microsecond ordering flips ties (event_id breaks the remaining ties
# identically in both engines).
TRANSITIONS_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY {EVENTS_TS_US_SQL}, event_id)
           AS to_type
  FROM events
)
SELECT from_type, to_type, count(*) AS n_transitions
FROM seq WHERE to_type IS NOT NULL
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Metric anomaly detection
# ---------------------------------------------------------------------------

ANOMALY_TRAIL_MIN = 30  # trailing window (minutes) for the baseline
ANOMALY_Z = 3.0


def score_minute_series(per_min: DataFrame) -> DataFrame:
    """Z-score a (minute, n_events) series against its trailing baseline
    (the last ANOMALY_TRAIL_MIN wall-clock minutes, current minute
    excluded). Shared by the batch query below and the streaming rollup's
    foreachBatch scorer (the alerting pass over each micro-batch's merged
    rollup).

    Scale: the window is day-partitioned so a multi-year series scores in
    parallel instead of one global-sort task. Each day additionally sees
    the previous day's last ANOMALY_TRAIL_MIN minutes as context-only
    rows (replicated, never emitted), which makes the day-partitioned
    RANGE frame bitwise-equal to the global unpartitioned window — the
    tail rows are exactly the rows a frame crossing midnight can reach."""
    trail = f"INTERVAL {ANOMALY_TRAIL_MIN} MINUTES"
    base = per_min.selectExpr(
        "minute", "n_events", "date_trunc('DAY', minute) AS _day",
        "false AS _ctx",
    )
    context = per_min.selectExpr(
        "minute", "n_events",
        "date_trunc('DAY', minute) + INTERVAL 1 DAY AS _day",
        "true AS _ctx",
    ).where(
        F.expr(f"minute >= date_trunc('DAY', minute) + INTERVAL 1 DAY - {trail}")
    )
    w = (
        f"OVER (PARTITION BY _day ORDER BY minute RANGE BETWEEN {trail}"
        " PRECEDING AND INTERVAL 1 MINUTE PRECEDING)"
    )
    scored = base.unionByName(context).selectExpr(
        "minute",
        "n_events",
        "_ctx",
        f"avg(n_events) {w} AS baseline",
        f"stddev_samp(n_events) {w} AS sd",
    )
    return scored.where(
        (~F.col("_ctx")) & F.col("sd").isNotNull() & (F.col("sd") > 0)
    ).selectExpr(
        "minute",
        "n_events",
        "round(baseline, 4) AS baseline",
        "round((n_events - baseline) / sd, 4) AS z",
        f"abs((n_events - baseline) / sd) > {ANOMALY_Z} AS is_anomaly",
    )


def metrics_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute event-count z-scores against the trailing 30 wall-clock
    minutes. Emits minutes with a defined baseline (>= 2 trailing points);
    |z| > 3 flags the spike/dip. The window runs over the ALREADY
    aggregated minute series (one row per minute) and is day-partitioned
    with an overlap tail (see score_minute_series), so multi-year
    backfills parallelize instead of serializing into one sort task."""
    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return score_minute_series(per_min)


ANOMALY_SQL = f"""
WITH per_min AS (
  SELECT date_trunc('minute', ts) AS minute, count(*) AS n_events
  FROM events GROUP BY 1
), scored AS (
  SELECT minute, n_events,
         avg(n_events) OVER w AS baseline,
         stddev_samp(n_events) OVER w AS sd
  FROM per_min
  -- global time-based frame: the Spark side's day-partitioned window
  -- with the overlap tail is exactly equivalent
  WINDOW w AS (ORDER BY minute
               RANGE BETWEEN INTERVAL {ANOMALY_TRAIL_MIN} MINUTE PRECEDING
               AND INTERVAL 1 MINUTE PRECEDING)
)
SELECT minute, n_events,
       round(baseline, 4) AS baseline,
       round((n_events - baseline) / sd, 4) AS z,
       abs((n_events - baseline) / sd) > {ANOMALY_Z} AS is_anomaly
FROM scored
WHERE sd IS NOT NULL AND sd > 0
"""


# ---------------------------------------------------------------------------
# Cross-metric series correlation (the distributed time-series-similarity
# shape: z-normalized similarity between per-minute metric series).
# ---------------------------------------------------------------------------


def series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between the per-minute count series of every
    event-type pair, over minutes where both series have events.

    All sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs;
    the correlation is derived from them with the same closed form in both
    engines, so the doubles agree bit-for-bit. The self-join is on the
    per-minute AGGREGATE (one row per (type, minute)), never raw events,
    and the final matrix is |types|²-sized — constant at any corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        F.col("event_type"), F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    a, b = per_min.alias("a"), per_min.alias("b")
    joined = a.join(
        b,
        (F.col("a.minute") == F.col("b.minute"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).selectExpr(
        "a.event_type AS type_a",
        "b.event_type AS type_b",
        "a.cnt AS x",
        "b.cnt AS y",
    )
    stats = joined.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_minutes"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    corr = (
        "(n_minutes * sxy - sx * sy) /"
        " (sqrt(n_minutes * sx2 - sx * sx) * sqrt(n_minutes * sy2 - sy * sy))"
    )
    # degenerate pairs (one shared minute, or a constant series) have zero
    # variance: no correlation is defined — drop them in both engines
    return stats.where(
        (F.col("n_minutes") >= 2)
        & (F.expr("n_minutes * sx2 - sx * sx") > 0)
        & (F.expr("n_minutes * sy2 - sy * sy") > 0)
    ).selectExpr("type_a", "type_b", "n_minutes", f"round({corr}, 4) AS corr")


SERIES_CORR_SQL = """
WITH per_min AS (
  SELECT event_type, date_trunc('minute', ts) AS minute, count(*) AS cnt
  FROM events GROUP BY 1, 2
), joined AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.cnt AS x, b.cnt AS y
  FROM per_min a JOIN per_min b
    ON a.minute = b.minute AND a.event_type < b.event_type
), stats AS (
  SELECT type_a, type_b,
         count(*) AS n_minutes,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sx2,
         CAST(sum(y * y) AS BIGINT) AS sy2
  FROM joined GROUP BY 1, 2
)
SELECT type_a, type_b, n_minutes,
       round((n_minutes * sxy - sx * sy) /
             (sqrt(n_minutes * sx2 - sx * sx) * sqrt(n_minutes * sy2 - sy * sy)),
             4) AS corr
FROM stats
WHERE n_minutes >= 2
  AND n_minutes * sx2 - sx * sx > 0
  AND n_minutes * sy2 - sy * sy > 0
"""


def event_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-normalized first-order Markov matrix: P(to | from). One window
    sum over the constant-size transition counts."""
    counts = event_transitions(spark, sf_dir)
    return counts.selectExpr(
        "from_type",
        "to_type",
        "n_transitions",
        "round(n_transitions / sum(n_transitions)"
        " OVER (PARTITION BY from_type), 4) AS p",
    )


TRANSITION_PROBS_SQL = f"""
WITH counts AS ({TRANSITIONS_SQL})
SELECT from_type, to_type, n_transitions,
       round(n_transitions / sum(n_transitions)
             OVER (PARTITION BY from_type), 4) AS p
FROM counts
"""


# ---------------------------------------------------------------------------
# Strict-order windowed funnel
# ---------------------------------------------------------------------------

FUNNEL_STEP_HOURS = 72


def funnel_3step_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup -> click -> purchase, each step within FUNNEL_STEP_HOURS of
    the previous, strictly ordered. Three chained window passes over ONE
    user_id shuffle (each step's deadline derives from the prior step's
    min, so no self-joins); the final count reuses the same partitioning."""
    return funnel_3step_windowed_df(load_table(spark, sf_dir, "events"))


def funnel_3step_windowed_df(ev: DataFrame) -> DataFrame:
    """DataFrame form of `funnel_3step_windowed` — fed a user_id-bucketed
    table (`plans/bucketing`) the three window stages and the per-user
    aggregate all read the write-time clustering, so the only exchange
    left is the final single-partition rollup of 4 counters."""
    h = FUNNEL_STEP_HOURS
    w = "OVER (PARTITION BY user_id)"
    staged = (
        ev.selectExpr(
            "user_id",
            "event_type",
            "ts",
            f"min(CASE WHEN event_type = 'signup' THEN ts END) {w} AS s",
        )
        .selectExpr(
            "user_id",
            "event_type",
            "ts",
            "s",
            f"min(CASE WHEN event_type = 'click' AND ts > s"
            f" AND ts <= s + INTERVAL {h} HOURS THEN ts END) {w} AS c",
        )
        .selectExpr(
            "user_id",
            "s",
            "c",
            f"min(CASE WHEN event_type = 'purchase' AND ts > c"
            f" AND ts <= c + INTERVAL {h} HOURS THEN ts END) {w} AS p",
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("s").alias("s"), F.max("c").alias("c"), F.max("p").alias("p")
    )
    return per_user.select(
        F.count(F.lit(1)).alias("n_users"),
        F.count("s").alias("n_signup"),
        F.count("c").alias("n_click_after_signup"),
        F.count("p").alias("n_purchase_after_click"),
    )


FUNNEL_3STEP_SQL = f"""
WITH s1 AS (
  SELECT user_id, event_type, {EVENTS_TS_US_SQL} AS ts,
         min(CASE WHEN event_type = 'signup' THEN {EVENTS_TS_US_SQL} END)
           OVER (PARTITION BY user_id) AS s
  FROM events
), s2 AS (
  SELECT user_id, event_type, ts, s,
         min(CASE WHEN event_type = 'click' AND ts > s
                  AND ts <= s + INTERVAL {FUNNEL_STEP_HOURS} HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS c
  FROM s1
), s3 AS (
  SELECT user_id, s, c,
         min(CASE WHEN event_type = 'purchase' AND ts > c
                  AND ts <= c + INTERVAL {FUNNEL_STEP_HOURS} HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS p
  FROM s2
), per_user AS (
  SELECT user_id, max(s) AS s, max(c) AS c, max(p) AS p
  FROM s3 GROUP BY 1
)
SELECT count(*) AS n_users,
       count(s) AS n_signup,
       count(c) AS n_click_after_signup,
       count(p) AS n_purchase_after_click
FROM per_user
"""


# ---------------------------------------------------------------------------
# Audience overlap
# ---------------------------------------------------------------------------


def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap between the distinct-user audiences of every
    event-type pair — the 'how much does the purchase audience overlap the
    signup audience' report. The self-join runs on the per-(type, user)
    DISTINCT aggregate (bounded by users x types, never raw events), and
    the result is |types|^2-sized."""
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a, b = tu.alias("a"), tu.alias("b")
    inter = (
        a.join(
            b.hint("shuffle_merge"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        inter.join(
            sizes.selectExpr("event_type AS type_a", "n_users AS na"),
            "type_a",
        )
        .join(
            sizes.selectExpr("event_type AS type_b", "n_users AS nb"),
            "type_b",
        )
        .selectExpr(
            "type_a",
            "type_b",
            "n_both",
            "round(n_both / (na + nb - n_both), 4) AS jaccard",
        )
    )


AUDIENCE_OVERLAP_SQL = """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, count(*) AS n_users FROM tu GROUP BY 1
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       round(n_both / (sa.n_users + sb.n_users - n_both), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


HLL_LGK = 14  # DataSketches lgConfigK: rel. std. err. ~1.04/sqrt(2^14)
HLL_REL_BOUND = 0.05  # pair bound: |est - exact| <= max(5% of union, 2)


def audience_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch audience overlap — the constant-size answer to
    `audience_overlap` at 10^9 users. One scan builds a DataSketches
    HLL per event type (register maxima: order- and partitioning-
    independent, so estimates are deterministic); union estimates come
    from `hll_union` on the |types|-row sketch table, intersections by
    inclusion-exclusion. The per-user pair JOIN the exact report needs
    — a shuffle of the whole (type, user) universe — never happens on
    the sketch path; sketches are 2^{lgk} registers regardless of
    audience size and merge associatively, so per-partition partials
    combine like any algebraic aggregate (the HLL twin of
    `quantile_sketch_rollup`'s mergeable-state contract).

    At test scale the exact pair stats run alongside and the estimate
    accuracy is emitted as BOOLEAN bound checks (union and
    inclusion-exclusion intersection within max(5% of union, 2)) — the
    DuckDB oracle emits literal TRUE for both, so the driver's hash
    compare IS the accuracy assertion. A 100 TB deployment drops the
    exact columns and keeps the sketch arm."""
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    sk = tu.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(HLL_LGK))
        .alias("sk"),
        F.count(F.lit(1)).alias("n_users"),
    )
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(
        b, F.col("a.event_type") < F.col("b.event_type")
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n_users").alias("na"),
        F.col("b.n_users").alias("nb"),
        F.hll_sketch_estimate(F.col("a.sk")).alias("ea"),
        F.hll_sketch_estimate(F.col("b.sk")).alias("eb"),
        F.hll_sketch_estimate(
            F.hll_union(F.col("a.sk"), F.col("b.sk"))
        ).alias("eu"),
    )
    inter = (
        tu.alias("x")
        .join(
            tu.alias("y").hint("shuffle_merge"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    tol = f"greatest(CAST({HLL_REL_BOUND} AS DOUBLE) * exact_union, 2.0)"
    return (
        pairs.join(inter, ["type_a", "type_b"], "left")
        .selectExpr(
            "type_a",
            "type_b",
            "coalesce(n_both, 0) AS n_both",
            "na + nb - coalesce(n_both, 0) AS exact_union",
            "eu",
            "ea + eb - eu AS inter_est",
        )
        .selectExpr(
            "type_a",
            "type_b",
            "n_both",
            "exact_union",
            f"abs(eu - exact_union) <= {tol} AS union_est_ok",
            f"abs(inter_est - n_both) <= {tol} AS inter_est_ok",
        )
    )


AUDIENCE_OVERLAP_SKETCH_SQL = """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, count(*) AS n_users FROM tu GROUP BY 1
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT sa.event_type AS type_a, sb.event_type AS type_b,
       coalesce(i.n_both, 0) AS n_both,
       sa.n_users + sb.n_users - coalesce(i.n_both, 0) AS exact_union,
       true AS union_est_ok,
       true AS inter_est_ok
FROM sizes sa
JOIN sizes sb ON sa.event_type < sb.event_type
LEFT JOIN inter i
  ON i.type_a = sa.event_type AND i.type_b = sb.event_type
"""


# ---------------------------------------------------------------------------
# Top session paths (round 7) — the "top user journeys" explorer behind
# funnel discovery: sessionize (the same 30-min gap rule as `sessionize`),
# concatenate each session's event types in time order, count paths, top-15.
#
# Scale: one user_id window shuffle (shared shape with sessionize — on the
# bucketed layout it disappears), per-session path assembly is bounded by
# session length, the path count partial-aggregates map-side, and the
# final top-15 is TakeOrdered (per-partition top-k + driver merge), never
# a global sort.
# ---------------------------------------------------------------------------

PATH_TOPK = 15


def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(path, n_sessions): the 15 most common session event-type paths."""
    from .events_ops import SESSION_GAP_MIN

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    sessions = ev.selectExpr(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        f"CASE WHEN CAST(ts AS DOUBLE)"
        f" - coalesce(CAST(lag(ts) OVER ({w}) AS DOUBLE), 0.0)"
        f" > {SESSION_GAP_MIN * 60} THEN 1 ELSE 0 END AS new_session",
    ).selectExpr(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        f"sum(new_session) OVER ({w}) AS session_id",
    )
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(ts, event_id, event_type))), x -> x.event_type), '>')"
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    return paths.orderBy(F.desc("n_sessions"), "path").limit(PATH_TOPK)


def _event_path_duck() -> str:
    from .events_ops import SESSION_GAP_MIN

    return f"""
WITH ev AS (
  SELECT user_id, {EVENTS_TS_US_SQL} AS ts, event_id, event_type FROM events
), flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch(ts) - coalesce(epoch(lag(ts) OVER w), 0.0)
                   > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS session_id
  FROM flagged
), paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM numbered GROUP BY 1, 2
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOPK}
"""


EVENT_PATH_TOPK_SQL = _event_path_duck()


# ---------------------------------------------------------------------------
# Multi-touch attribution (round 7) — the marketing-attribution report a
# CDP's warehouse tables exist to answer: every `purchase` conversion's
# value is credited across the click/view touches of the same user inside
# a 7-day lookback, linearly (1/n per touch) and last-touch (all to the
# latest touch); conversions with no touch in window credit a synthetic
# `direct` channel. Extends the §2.7 first/last-touch analogue family
# (`mixpanel-destination.ts:309-334` $set_once first-touch semantics).
#
# Scale: conversions and touches co-shuffle once on user_id; the per-
# conversion fan-out is bounded by the 7-day window; both attribution
# windows share ONE conv_id-keyed shuffle; the channel rollup is a
# constant-size aggregate. No corpus-wide sort, no driver loop.
# ---------------------------------------------------------------------------

ATTR_WINDOW_DAYS = 7


def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(channel, n_conversions, n_touches, linear_revenue,
    last_touch_revenue) per touch channel (click/view/direct)."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("cts"),
        "value",
    )
    touch = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("ttype"),
    )
    joined = conv.join(
        touch,
        (conv["user_id"] == touch["user_id"])
        & (touch["tts"] < conv["cts"])
        & (
            touch["tts"]
            >= conv["cts"] - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS")
        ),
        "left",
    ).select("conv_id", "cts", "value", "tts", "tid", "ttype")
    wc = "PARTITION BY conv_id"
    credited = joined.selectExpr(
        "conv_id",
        "value",
        "tid",
        "coalesce(ttype, 'direct') AS channel",
        f"count(tid) OVER ({wc}) AS n_touch",
        f"row_number() OVER ({wc} ORDER BY tts DESC, tid DESC) AS rn",
    ).selectExpr(
        "conv_id",
        "channel",
        "tid",
        "CASE WHEN n_touch = 0 THEN value ELSE value / n_touch END AS credit",
        "CASE WHEN rn = 1 THEN value ELSE 0.0 END AS last_credit",
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.countDistinct("conv_id").alias("n_conversions"),
            F.count("tid").alias("n_touches"),
            F.round(F.sum("credit"), 4).alias("linear_revenue"),
            F.round(F.sum("last_credit"), 4).alias("last_touch_revenue"),
        )
    )


ATTRIBUTION_SQL = f"""
WITH ev AS (
  SELECT event_id, {EVENTS_TS_US_SQL} AS ts, user_id, event_type, value
  FROM events
), conv AS (
  SELECT event_id AS conv_id, user_id, ts AS cts, value
  FROM ev WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, ts AS tts, event_id AS tid, event_type AS ttype
  FROM ev WHERE event_type IN ('click', 'view')
), joined AS (
  SELECT conv_id, cts, value, tts, tid, ttype
  FROM conv LEFT JOIN touch
    ON conv.user_id = touch.user_id
   AND touch.tts < conv.cts
   AND touch.tts >= conv.cts - INTERVAL {ATTR_WINDOW_DAYS} DAY
), credited AS (
  SELECT conv_id, value, tid,
         coalesce(ttype, 'direct') AS channel,
         count(tid) OVER (PARTITION BY conv_id) AS n_touch,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY tts DESC, tid DESC) AS rn
  FROM joined
)
SELECT channel,
       count(DISTINCT conv_id) AS n_conversions,
       count(tid) AS n_touches,
       round(sum(CASE WHEN n_touch = 0 THEN value
                      ELSE value / n_touch END), 4) AS linear_revenue,
       round(sum(CASE WHEN rn = 1 THEN value ELSE 0.0 END), 4)
         AS last_touch_revenue
FROM credited
GROUP BY channel
"""




# ---------------------------------------------------------------------------
# RFM segmentation (round 8) — the classic CDP audience operator:
# recency / frequency / monetary quintiles per user, composed into named
# segments (the reference's audience-sync destinations consume exactly
# such user-trait segments; `libs/core-functions/src/functions/` CRM
# mappings ship traits like these). Quintiles are percent-rank-based —
# (count strictly better) / (n - 1), floor(pr*5)+1 capped at 5 — which is
# tie-stable (equal metric => equal score) and engine-exact (same integer
# division on both sides).
#
# Scale: one user aggregate; each metric's percent rank runs through a
# VALUE-histogram (recency is span-bounded integer days, frequency is a
# count, monetary is rounded to cents — all bounded value spaces, the
# quality_percentile_gate pattern), never a corpus-wide row sort; scores
# join back as broadcasts.
# ---------------------------------------------------------------------------

_RFM_SEGMENT_CASE = """CASE
  WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
  WHEN r_score >= 4 AND f_score <= 2 THEN 'recent'
  WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
  WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
  ELSE 'regular' END"""


def _value_pct_rank(
    df: DataFrame, col: str, ascending: bool, small_value_space: bool
) -> DataFrame:
    """(v, pr): percent_rank of each DISTINCT value of `col` via
    `plans/cumsum.py`. The caller declares the value-space bound:
    recency days (corpus span) and frequency (max events/user) stay in
    the cheap window form; monetary cents can reach 10^7+ distinct
    values at corpus scale, so it takes the distributed prefix."""
    from ..plans.cumsum import histogram_cnt_better

    return histogram_cnt_better(
        df, col, ascending, small_value_space=small_value_space
    ).selectExpr(
        "v",
        "CASE WHEN n_total = 1 THEN 0.0D"
        " ELSE cnt_better / (n_total - 1) END AS pr",
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, recency_days, frequency, monetary, r_score, f_score,
    m_score, segment): RFM quintile scores against the corpus's newest
    event as the anchor, with the standard segment names."""
    ev = load_table(spark, sf_dir, "events")
    # persist: the three rank histograms AND the score join-backs all
    # consume `base`, and the monetary key is a rounded double SUM —
    # evaluating the aggregation once guarantees the join-back keys are
    # the identical doubles the histograms ranked (re-evaluation could,
    # in principle, reassociate the float sum). Released by the shared
    # bounded-cache lifecycle (plans/topk.py).
    from ..plans.topk import persist_bounded

    # r12: the anchor (newest event overall) is max of the per-user
    # maxima, so it folds over the persisted per-user frame instead of
    # a second full scan of events (guide §2.4 — one corpus pass).
    per_user = persist_bounded(
        ev.groupBy("user_id").agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
    )
    anchor = per_user.agg(F.max("last_us").alias("anchor_us"))
    # (r12, tried and reverted: dropping this persist — the float-
    # determinism rationale moved to the per_user persist — measured
    # 1.83 -> 2.92 median: every rank subtree then re-runs the anchor
    # BROADCAST build, a blocking driver-side job per walk. The persist
    # is load-bearing for the one-anchor-build shape, not just for
    # float key identity.)
    base = persist_bounded(
        per_user.crossJoin(F.broadcast(anchor)).selectExpr(
            "user_id",
            "CAST((anchor_us - last_us) DIV 86400000000L AS INT)"
            " AS recency_days",
            "frequency",
            "monetary",
        )
    )
    score = "least(5, CAST(floor(pr * 5) AS INT) + 1)"
    scored = base
    for col, asc, name, small in (
        ("recency_days", False, "r_score", True),  # fewer days = better
        ("frequency", True, "f_score", True),
        ("monetary", True, "m_score", False),
    ):
        ranks = _value_pct_rank(base, col, asc, small)
        scored = (
            scored.join(
                ranks, scored[col] == ranks["v"]
            )
            .withColumn(name, F.expr(score))
            .drop("v", "pr")
        )
    return scored.selectExpr(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        f"{_RFM_SEGMENT_CASE} AS segment",
    )


RFM_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(make_timestamp(epoch_ns(ts) // 1000)) AS us, value
  FROM events
), anchor AS (
  SELECT max(us) AS anchor_us FROM ev
), base AS (
  SELECT user_id,
         CAST((anchor_us - max(us)) // 86400000000 AS INT) AS recency_days,
         count(*) AS frequency,
         round(sum(value), 2) AS monetary
  FROM ev CROSS JOIN anchor
  GROUP BY user_id, anchor_us
), scored AS (
  SELECT user_id, recency_days, frequency, monetary,
    least(5, CAST(floor(percent_rank() OVER (ORDER BY recency_days DESC) * 5) AS INT) + 1) AS r_score,
    least(5, CAST(floor(percent_rank() OVER (ORDER BY frequency) * 5) AS INT) + 1) AS f_score,
    least(5, CAST(floor(percent_rank() OVER (ORDER BY monetary) * 5) AS INT) + 1) AS m_score
  FROM base
)
SELECT user_id, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       {_RFM_SEGMENT_CASE} AS segment
FROM scored
"""


# ---------------------------------------------------------------------------
# Session entry-point stats (round 8) — bounce rate / depth / duration by
# the session's FIRST event type: the landing-page report re-expressed on
# this schema (no page URLs in the corpus; the entry event type plays the
# landing role). Builds on the sessionize gap convention (30-min, strict
# > test) so session boundaries match the registry's other session ops.
# One user_id shuffle: the lag window, the session rollup and the first-
# event pick all reuse it; the final entry-type aggregate is
# cardinality-bounded by the event-type vocabulary.
# ---------------------------------------------------------------------------


def session_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(entry_event_type, n_sessions, bounce_rate, avg_events,
    avg_duration_sec): per entry type, how many sessions start there,
    how many end after one event (bounce), and how deep/long the rest
    run."""
    from pyspark.sql import Window
    from .events_ops import SESSION_GAP_MIN

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = SESSION_GAP_MIN * 60
    sessions = ev.withColumn(
        "new_session",
        (
            F.col("ts").cast("double")
            - F.coalesce(F.lag("ts").over(w).cast("double"), F.lit(0.0))
            > gap_sec
        ).cast("int"),
    ).withColumn("session_id", F.sum("new_session").over(w))
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.min(F.struct("ts", "event_id", "event_type"))[
            "event_type"
        ].alias("entry_event_type"),
    )
    return (
        per_session.groupBy("entry_event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(
                F.avg((F.col("n_events") == 1).cast("double")), 4
            ).alias("bounce_rate"),
            F.round(F.avg("n_events"), 4).alias("avg_events"),
            F.round(
                F.avg(
                    F.col("session_end").cast("double")
                    - F.col("session_start").cast("double")
                ),
                2,
            ).alias("avg_duration_sec"),
        )
    )


def _session_stats_duck() -> str:
    from .events_ops import SESSION_GAP_MIN

    return f"""
WITH ev AS (
  SELECT user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, event_id,
         event_type
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch(ts) - coalesce(epoch(lag(ts) OVER w), 0.0)
                   > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         min(ts) AS session_start, max(ts) AS session_end,
         arg_min(event_type,
                 printf('%020d', epoch_us(ts)) || printf('%012d', event_id))
           AS entry_event_type
  FROM numbered
  GROUP BY 1, 2
)
SELECT entry_event_type,
       count(*) AS n_sessions,
       round(avg(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END), 4)
         AS bounce_rate,
       round(avg(n_events), 4) AS avg_events,
       round(avg(epoch(session_end) - epoch(session_start)), 2)
         AS avg_duration_sec
FROM per_session
GROUP BY 1
"""


SESSION_STATS_SQL = _session_stats_duck()


QUERIES = {
    "retention_cohorts": retention_cohorts,
    "rfm_segments": rfm_segments,
    "session_stats_report": session_stats_report,
    "event_transitions": event_transitions,
    "event_transition_probs": event_transition_probs,
    "audience_overlap": audience_overlap,
    "audience_overlap_sketch": audience_overlap_sketch,
    "funnel_3step_windowed": funnel_3step_windowed,
    "metrics_anomaly": metrics_anomaly,
    "series_correlation": series_correlation,
    "event_path_topk": event_path_topk,
    "attribution_multi_touch": attribution_multi_touch,
}
ORACLE = {
    "retention_cohorts": RETENTION_SQL,
    "rfm_segments": RFM_SQL,
    "session_stats_report": SESSION_STATS_SQL,
    "event_transitions": TRANSITIONS_SQL,
    "event_transition_probs": TRANSITION_PROBS_SQL,
    "funnel_3step_windowed": FUNNEL_3STEP_SQL,
    "audience_overlap": AUDIENCE_OVERLAP_SQL,
    "audience_overlap_sketch": AUDIENCE_OVERLAP_SKETCH_SQL,
    "metrics_anomaly": ANOMALY_SQL,
    "series_correlation": SERIES_CORR_SQL,
    "event_path_topk": EVENT_PATH_TOPK_SQL,
    "attribution_multi_touch": ATTRIBUTION_SQL,
}
