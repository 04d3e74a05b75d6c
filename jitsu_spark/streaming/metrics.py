"""Streaming metrics rollup — the ClickHouse AggregatingMergeTree path.

Reference: per-function status counts are minute-truncated and buffered
(`services/rotor/src/lib/metrics.ts:140-196`), landed into ClickHouse
`Null`-engine tables whose materialized views maintain `sumState(events)` /
`uniqState(messageId)` grouped by (minute, connection, status)
(`webapps/console/prisma/metrics.sql:71-110`); billing uses hourly
`uniq(messageId)` (`metrics.sql:2-29`).

Spark shape (SURVEY §2.6 A2-A3): a windowed streaming aggregation with a
watermark. Spark's partial aggregation is the `sumState` half; HLL++
(`approx_count_distinct`) is `uniqState`. Output mode `update` + an
upsert sink equals ClickHouse's merge-on-read: per-window rows converge
to their final value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def metrics_rollup_stream(
    events: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "timestamp",
    status_col: str = "status",
) -> DataFrame:
    """Per-minute (status) counts — streaming form of A2/A3."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 minute").alias("w"), F.col(status_col))
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.approx_count_distinct("message_id").alias("uniq_messages"),
        )
        .select(
            F.col("w.start").alias("period"),
            status_col,
            "events",
            "uniq_messages",
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "timestamp",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming sessionization via native session windows: per-user
    sessions close after `gap` of inactivity. The batch twin is the
    operators.events_ops.sessionize gaps-and-islands query; here Spark's
    session_window state machine merges windows incrementally — state per
    open session only, emitted on watermark close."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def anomaly_on_rollup(rollup: DataFrame) -> DataFrame:
    """Alerting pass over the (merged) rollup store: total the per-status
    minute counts and z-score them against the trailing baseline — run
    inside foreachBatch after the rollup MERGE, so every micro-batch
    re-evaluates the affected minutes. Reuses the batch scorer verbatim
    (operators.reports.score_minute_series)."""
    from ..operators.reports import score_minute_series

    per_min = (
        rollup.groupBy(F.col("period").alias("minute"))
        .agg(F.sum("events").cast("long").alias("n_events"))
    )
    return score_minute_series(per_min)


def drift_on_rollup(
    rollup: DataFrame,
    baseline: DataFrame,
    period_col: str = "period",
    bucket_col: str = "status",
    count_col: str = "events",
) -> DataFrame:
    """Streaming twin of `operators.corpus.snapshot_drift_psi`: per-period
    population-stability-index of the rollup's bucket distribution against
    a static baseline frame (`bucket_col`, `cnt`). Run inside foreachBatch
    after the rollup MERGE (the `anomaly_on_rollup` pattern) so every
    micro-batch re-evaluates the affected periods against the released
    traffic mix — the live "did the event mix shift" gate.

    Same exactness construction as the batch entry: a full outer join per
    period puts every bucket in both frames (absent -> 0), +1 Laplace
    smoothing, exact integer per-myriad shares, ln() on identical
    rationals, terms rounded to 6. The final per-period PSI is the sum of
    per-bucket terms; `drifted` flags periods past the 0.2 rule of thumb.

    Scale: the baseline is bucket-cardinality-sized (broadcast); the
    rollup side is already aggregated per (period, bucket) — the join and
    both window-free aggregates are tiny regardless of event volume.
    """
    base = baseline.groupBy(F.col(bucket_col).alias("bucket")).agg(
        F.sum("cnt").alias("c_base")
    )
    cur = rollup.groupBy(
        F.col(period_col).alias("period"), F.col(bucket_col).alias("bucket")
    ).agg(F.sum(count_col).alias("c_cur"))
    # every (period, baseline-bucket) pair must exist so a bucket that
    # VANISHED from live traffic still contributes drift
    periods = cur.select("period").distinct()
    grid = periods.crossJoin(base)
    joined = grid.join(cur, ["period", "bucket"], "full_outer").selectExpr(
        "period",
        "bucket",
        "coalesce(c_base, 0L) AS c_base",
        "coalesce(c_cur, 0L) AS c_cur",
    )
    totals = joined.groupBy("period").agg(
        F.sum("c_base").alias("t_base"),
        F.sum("c_cur").alias("t_cur"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    terms = joined.join(totals, "period").selectExpr(
        "period",
        "bucket",
        # greatest(1, ...): past ~10k rows per side the floor division
        # alone quantizes an absent bucket's share to 0 and ln() NULLs
        # out exactly the vanished-bucket term this monitor exists for
        "greatest(1L, ((c_base + 1) * 10000) div (t_base + n_buckets))"
        " AS p_base_pmy",
        "greatest(1L, ((c_cur + 1) * 10000) div (t_cur + n_buckets))"
        " AS p_cur_pmy",
    ).selectExpr(
        "period",
        "bucket",
        "round(((p_cur_pmy - p_base_pmy) / 10000.0)"
        " * ln(p_cur_pmy / (p_base_pmy * 1.0)), 6) AS psi_term",
    )
    return (
        terms.groupBy("period")
        .agg(F.round(F.sum("psi_term"), 6).alias("psi"))
        .withColumn("drifted", F.col("psi") > 0.2)
    )
