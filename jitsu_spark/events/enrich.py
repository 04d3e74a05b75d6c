"""Scalar enrichment functions (SURVEY.md §2.3) as JVM-side column
expressions — the F-family re-expressed so every transform stays inside
whole-stage codegen. Each function takes/returns Columns so pipelines
compose them at plan-build time.

Reference citations per function in docstrings; semantics, not code, are
ported.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def anonymize_ip(ip: Column) -> Column:
    """P6 — privacy: zero the last octet of IPv4 (`bulker-destination.ts:19-27`)."""
    parts = F.split(ip, r"\.")
    return F.when(
        F.size(parts) == 4,
        F.concat_ws(".", parts[0], parts[1], parts[2], F.lit("0")),
    )


def url_parts(url: Column) -> dict[str, Column]:
    """F3 — URL decomposition into doc_host/doc_path/doc_search
    (`bulker-destination.ts:60-78`)."""
    return {
        "doc_host": F.parse_url(url, F.lit("HOST")),
        "doc_path": F.parse_url(url, F.lit("PATH")),
        "doc_search": F.parse_url(url, F.lit("QUERY")),
    }


def utm_from_query(url: Column) -> dict[str, Column]:
    """F4 — UTM + click-id extraction from the query string
    (`mixpanel-destination.ts:38-56,102-115`)."""
    out = {}
    for p in ("utm_campaign", "utm_source", "utm_medium", "utm_term", "utm_content"):
        out[p] = F.parse_url(url, F.lit("QUERY"), F.lit(p))
    for cid in ("gclid", "fbclid", "ttclid"):
        out[cid] = F.parse_url(url, F.lit("QUERY"), F.lit(cid))
    return out


CAMPAIGN_TO_UTM = {
    "name": "utm_campaign",
    "source": "utm_source",
    "medium": "utm_medium",
    "term": "utm_term",
    "content": "utm_content",
}


def event_time_safe(timestamp: Column, received_at: Column) -> Column:
    """F8 — clamp bogus/future event time: min(timestamp, receivedAt, now)
    (`libs/core-functions/src/functions/lib/index.ts:244-249`)."""
    return F.least(timestamp, received_at, F.current_timestamp())


def screen_string(width: Column, height: Column) -> Column:
    """F9 — "1280x720" from width/height, 0 defaults
    (`bulker-destination.ts:84-85,146-147`)."""
    return F.concat_ws(
        "x",
        F.coalesce(width, F.lit(0)).cast("string"),
        F.coalesce(height, F.lit(0)).cast("string"),
    )


def insert_id(message_id: Column, etype: Column) -> Column:
    """F11 — md5 insertId = md5(messageId + "_" + type)
    (`mixpanel-destination.ts:391-393`)."""
    return F.md5(F.concat_ws("_", message_id, etype))


def traits_merge(event_traits: Column, context_traits: Column) -> Column:
    """F10 — `{...event.traits, ...context.traits}` precedence merge over
    MAP columns (`lib/index.ts:227-229`); map_concat with right precedence
    via map_zip_with."""
    return F.map_zip_with(
        event_traits, context_traits, lambda _k, v1, v2: F.coalesce(v2, v1)
    )


def sanitize_event_name(name: Column, max_len: int = 40) -> Column:
    """F13 — GA4 event-name sanitize: non-alnum -> _, cap length
    (`ga4-destination.ts:163-166`)."""
    return F.substring(F.regexp_replace(name, "[^a-zA-Z0-9_]", "_"), 1, max_len)


def ip_to_int(ip: Column) -> Column:
    """F7 support — IPv4 dotted quad -> int64, the join key for geo
    range-joins against an ip_ranges dimension (`services/rotor/src/lib/
    maxmind.ts:30-44`; the mmdb itself is out of scope, the join is not)."""
    parts = F.split(ip, r"\.")
    return (
        parts[0].cast("long") * F.lit(16777216)
        + parts[1].cast("long") * F.lit(65536)
        + parts[2].cast("long") * F.lit(256)
        + parts[3].cast("long")
    )


def geo_enrich(events, ip_ranges, ip_col: str = "ip"):
    """J1 — geo enrichment as a broadcast range join:
    events.ip_int BETWEEN start_int AND end_int
    (`services/rotor/src/lib/message-handler.ts:84-92` behavior).

    ip_ranges: DataFrame(start_int LONG, end_int LONG, country STRING,
    city STRING). Broadcast + range predicate => BroadcastNestedLoopJoin
    pruned by the range condition; at scale, bucket ip_ranges by /8 prefix
    and add an equi-prefix key so Spark plans a broadcast hash join first.
    """
    ev = events.withColumn("_ip_int", ip_to_int(F.col(ip_col))).withColumn(
        "_ev_prefix", (F.col("_ip_int") / F.lit(16777216)).cast("int")
    )
    # assumes each range sits inside one /8 (split ranges upstream if not);
    # the equi-key turns the range join into a broadcast HASH join with the
    # BETWEEN as a residual filter.
    ranges = ip_ranges.withColumn(
        "_r_prefix", (F.col("start_int") / F.lit(16777216)).cast("int")
    )
    return (
        ev.join(
            F.broadcast(ranges),
            (F.col("_ev_prefix") == F.col("_r_prefix"))
            & (F.col("_ip_int") >= F.col("start_int"))
            & (F.col("_ip_int") <= F.col("end_int")),
            "left",
        )
        .drop("_ev_prefix", "_r_prefix", "start_int", "end_int")
    )
