"""Identity stitching — the reference's "user recognition" operator family.

J2 (`libs/core-functions/src/functions/user-recognition.ts:24-82`): anonymous
events are buffered per anonymousId; when an identified event with the same
anonymousId arrives, buffered events are re-emitted with userId and traits
deep-merged. End-to-end exactly-once comes from the sink's MERGE on
message_id (the re-emit is an upsert), mirroring the reference's
requirement that the destination deduplicate (`user-recognition.ts:25-30`).

Batch form (this module): a left join of the event stream against a
per-anonymousId identity aggregate — last-identified-wins userId and
last-write-wins traits fold. The identity side is tiny relative to the
stream, so it broadcasts; the stream itself never shuffles.

Streaming form: jitsu_spark.streaming.user_recognition implements the same
semantics with applyInPandasWithState (30-day state TTL = lookbackWindowDays,
`user-recognition.ts:16`).

J3 (`mixpanel-destination.ts:395-457`): identity merge bookkeeping as an
id-graph; connected components via iterative label propagation
(small-world graphs converge in a few rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table


def identity_map(events: DataFrame) -> DataFrame:
    """Per-anonymousId identity: latest non-null user_id + merged traits.

    Expects columns: anonymous_id, user_id, traits MAP<STRING,STRING>, ts.
    Last-write-wins per key is an order-sensitive fold -> max_by on a
    deterministic (ts, message_id) key; trait maps merge via aggregating
    exploded entries (JVM-side, partial-agg friendly).
    """
    identified = events.where(
        F.col("user_id").isNotNull() & F.col("anonymous_id").isNotNull()
    )
    # ONE exploded pass computes both the latest user_id and the per-key
    # latest trait values (r12: the previous shape scanned the identified
    # events twice — one aggregate for ids, an explode + two aggregates
    # for traits — then joined the two; fusing them removes a scan, an
    # aggregate and the join). explode_outer keeps trait-less rows (null
    # entry), so every identified row still votes for resolved_user_id;
    # entries whose value is null fold into the null-key group so they
    # never surface as trait entries (the old t_val filter).
    # (ts, message_id) composite makes latest-wins deterministic under
    # ties; per-group argmax of group-wise argmaxes = global argmax
    # because the groups partition the rows and the order key is shared.
    entries = identified.select(
        "anonymous_id",
        "user_id",
        F.struct("ts", "message_id").alias("ord"),
        F.explode_outer("traits").alias("t_key", "t_val"),
    ).withColumn(
        "t_key", F.when(F.col("t_val").isNotNull(), F.col("t_key"))
    )
    per_key = entries.groupBy("anonymous_id", "t_key").agg(
        F.expr("max_by(t_val, ord)").alias("t_val"),
        F.expr("max_by(user_id, ord)").alias("key_user_id"),
        F.max("ord").alias("key_ord"),
    )
    merged = per_key.groupBy("anonymous_id").agg(
        F.expr("max_by(key_user_id, key_ord)").alias("resolved_user_id"),
        F.max("key_ord.ts").alias("identified_at"),
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("t_key").isNotNull(), F.struct("t_key", "t_val")
                )
            )
        ).alias("resolved_traits"),
    )
    # rows whose traits never yielded a non-null entry must resolve to a
    # NULL map (the old left-join semantics), not an empty one
    return merged.withColumn(
        "resolved_traits",
        F.when(F.size("resolved_traits") > 0, F.col("resolved_traits")),
    ).select("anonymous_id", "resolved_user_id", "identified_at", "resolved_traits")


def user_recognition_backfill(events: DataFrame) -> DataFrame:
    """Re-emit all events with identity backfilled onto anonymous ones.

    Anonymous events whose anonymousId was later identified receive the
    resolved user_id and merged traits (event's own traits win on key
    collision, matching the reference's deep-merge direction of enriching
    rather than overwriting).
    """
    ids = identity_map(events)
    joined = events.join(ids, "anonymous_id", "left")
    backfilled_traits = F.when(
        F.col("resolved_traits").isNotNull() & F.col("traits").isNotNull(),
        F.map_zip_with(
            "resolved_traits", "traits", lambda _k, v1, v2: F.coalesce(v2, v1)
        ),
    ).otherwise(F.coalesce(F.col("traits"), F.col("resolved_traits")))
    return joined.select(
        *[c for c in events.columns if c not in ("user_id", "traits")],
        F.coalesce(F.col("user_id"), F.col("resolved_user_id")).alias("user_id"),
        backfilled_traits.alias("traits"),
        (
            F.col("user_id").isNull() & F.col("resolved_user_id").isNotNull()
        ).alias("_backfilled"),
    )


def id_graph_components(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """J3 — connected components over an identity-pair graph.

    pairs: DataFrame(id_a STRING, id_b STRING) undirected edges
    (e.g. $merge(distinct_ids=[userId, anonymousId])).
    Label propagation with ESCALATING POINTER JUMPING: rounds run the
    cheap one-hop min-label pull until convergence; a graph still
    unconverged after `max_iter` one-hop rounds (diameter > max_iter)
    escalates to rounds that also compress labels through the label
    table itself (component := label(component)), doubling the radius
    per round, and runs until actually converged. Round-4 fix: the
    one-hop implementation simply STOPPED at max_iter and returned
    wrong components for chains deeper than it. Shallow graphs — the
    identity-graph common case — never pay the compression join; deep
    chains finish in ~max_iter + log2(L) rounds. The compression join
    is over the label table (N rows), never the edge multiset; a hard
    cap of max_iter + 64 rounds bounds the loop (radius 2^64).
    """
    # r12: emit both edge directions with ONE map-side explode — the
    # previous union-of-self duplicated the whole `pairs` lineage in the
    # cache-materialization job (for GEMM/LSH-derived pair frames that
    # doubled the most expensive pass of the consumer; no Exchange sits
    # atop `pairs`, so ReuseExchange never deduplicated it).
    # r13 (guide §2.4): hash the edge table by the probe key BEFORE
    # caching — InMemoryTableScan preserves the cached plan's output
    # partitioning, so every round's edges⋈labels join reuses it instead
    # of re-exchanging the (static) edge multiset per round; only the
    # label side (which changes each round) still shuffles.
    n_edge_parts = pairs.sparkSession.sparkContext.defaultParallelism
    edges = (
        pairs.selectExpr(
            "explode(array(struct(id_a AS src, id_b AS dst),"
            " struct(id_b AS src, id_a AS dst))) AS e"
        )
        .select("e.src", "e.dst")
        .distinct()
        .repartition(n_edge_parts, "src")
        .cache()  # probed every round
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    # (r12, tried and reverted: an explicit runtime-measured broadcast
    # of the label table made rounds ~40% SLOWER at test scale — each
    # BroadcastExchange is a blocking driver-side build per round, while
    # AQE already localizes these tiny shuffles. Measured 3.3-3.9s
    # gated vs 2.1-2.6s plain on id_graph; plain joins kept.)
    # (r13, tried and reverted: full large-star/small-star contraction
    # (Kiveris et al.) — labels verified identical, but 2.14 vs 1.74 s
    # median on id_graph at sf0.1: each alternation costs two
    # neighborhood groupBy exchanges + a distinct + an edge-set
    # convergence check where a propagation round costs one join+agg,
    # and the identity graph is SHALLOW (diameter ~4), so the round
    # count star contraction buys down is already tiny. Worth revisiting
    # only if production graphs develop deep chains.)
    try:
        for i in range(max_iter + 64):
            # Candidate labels via one hop. The node's OWN previous label
            # rides the same aggregate under a flag (r12, second pass):
            # min(component) is the new candidate and the flagged min is
            # the old label, so the convergence compare needs NO join
            # back onto the label table — the previous form paid one
            # extra shuffle join per round just to line up old vs new.
            # (Every dst is also a src — edges carry both directions —
            # so the flagged arm covers every aggregated id.)
            hop = (
                edges.join(labels, edges.src == labels.id)
                .select(
                    F.col("dst").alias("id"),
                    "component",
                    F.lit(False).alias("own"),
                )
                .union(
                    labels.select(
                        "id", "component", F.lit(True).alias("own")
                    )
                )
                .groupBy("id")
                .agg(
                    F.min("component").alias("c1"),
                    F.min(F.when(F.col("own"), F.col("component"))).alias(
                        "old"
                    ),
                )
            )
            if i < max_iter:
                # (r12, tried and reverted: a DOUBLE-hop per checkpointed
                # round — two edge joins + two aggregates, halving the
                # localCheckpoint count — measured 3.50 vs 2.15 median on
                # id_graph at sf0.1: the extra join+aggregate costs more
                # than the saved round fixed overhead.)
                prop = hop.select(
                    "id", "old", F.col("c1").alias("new_component")
                )
            else:
                # pointer jumping: follow the label's OWN label — min
                # labels skip across already-labeled regions, doubling
                # the radius (engaged only after max_iter one-hop rounds
                # failed to converge, so shallow graphs never pay this)
                lookup = hop.select(
                    F.col("id").alias("c1"), F.col("c1").alias("c2")
                )
                prop = hop.join(lookup, "c1", "left").select(
                    "id",
                    "old",
                    F.least(
                        F.col("c1"), F.coalesce(F.col("c2"), F.col("c1"))
                    ).alias("new_component"),
                )
            # Materialize each round (localCheckpoint truncates lineage):
            # without it the plan doubles per iteration and the convergence
            # count re-executes the whole history — quadratic in rounds.
            # The convergence count rides the SAME job as an observed
            # metric (r12): the separate count() job per round doubled
            # the round's fixed job cost for a sum the checkpoint pass
            # already sees every row of.
            obs = Observation(f"idg_changed_{i}")
            labels = (
                prop.observe(
                    obs,
                    # null-safe NOT-equal (r13, ADVICE r12 #4): every id
                    # reaching the aggregate should carry an own=True row,
                    # but if a caller ever seeds labels differently or
                    # edges lose symmetry, `old` is NULL — a plain != maps
                    # that to NULL and silently drops the id from the
                    # changed sum (early termination with wrong
                    # components). ~eqNullSafe counts unseen ids as
                    # changed instead; identical on non-null pairs.
                    F.sum(
                        (
                            ~F.col("new_component").eqNullSafe(F.col("old"))
                        ).cast("long")
                    ).alias("changed"),
                )
                .select("id", F.col("new_component").alias("component"))
                .localCheckpoint()
            )
            if not (obs.get.get("changed") or 0):
                break
    finally:
        edges.unpersist()
    return labels


def alias_pairs(events: DataFrame) -> DataFrame:
    """Edges for the id-graph from identity-bearing events: alias events
    link previousId -> userId (`analytics.d.ts:97-100`); identify events
    link anonymousId -> userId (the Mixpanel `$merge`/`$create_alias`
    bookkeeping, `mixpanel-destination.ts:395-457`). Feed the result to
    id_graph_components."""
    ident = (
        events.where(
            F.col("user_id").isNotNull() & F.col("anonymous_id").isNotNull()
        )
        .select(
            F.col("user_id").alias("id_a"), F.col("anonymous_id").alias("id_b")
        )
    )
    if "previous_id" in events.columns:
        ident = ident.union(
            events.where(
                (F.col("type") == "alias") & F.col("previous_id").isNotNull()
            ).select(
                F.col("previous_id").alias("id_a"), F.col("user_id").alias("id_b")
            )
        )
    return ident.distinct()


# --- oracle-checked registry entries -------------------------------------
#
# The driver's events table is already-resolved (every row has a numeric
# user_id), so these queries first derive an analytics-shaped view with
# anonymous/identified semantics: every event carries anonymous_id
# 'anon_<uid>'; only signup/login events carry the string identity
# 'u<uid>' and a traits map {'k': props.k}. That derivation is mirrored
# verbatim in the DuckDB oracle, so the comparison exercises the stitching
# logic itself.


def _analytics_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.scan import fan_out_scan

    # Fan the raw scan out before the derived projection (guide §2.5):
    # a single-row-group events file otherwise pins BOTH heavy stages of
    # the stitch — the probe-side projection (get_json_object per row)
    # and the identified-side explode+aggregate — to one task each
    # (measured 310 ms + 195 ms single-core). Both subtrees read the
    # same exchange (AQE reuse), so the raw rows shuffle once; no-op on
    # well-split production inputs.
    ev = fan_out_scan(load_table(spark, sf_dir, "events"))
    is_ident = F.col("event_type").isin("signup", "login")
    return ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.concat(F.lit("anon_"), F.col("user_id")).alias("anonymous_id"),
        F.when(is_ident, F.concat(F.lit("u"), F.col("user_id"))).alias("user_id"),
        F.when(
            is_ident,
            F.create_map(F.lit("k"), F.get_json_object("props", "$.k")),
        ).alias("traits"),
        "ts",
    )


def identity_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 registry entry — user-recognition backfill over the derived
    analytics view; scalar projection of the merged traits for hashing."""
    out = user_recognition_backfill(_analytics_view(spark, sf_dir))
    return out.select(
        "message_id",
        "anonymous_id",
        "user_id",
        F.col("traits")["k"].alias("trait_k"),
        F.col("_backfilled").alias("backfilled"),
    )


IDENTITY_STITCH_SQL = """
WITH ev AS (
  SELECT CAST(event_id AS VARCHAR) AS message_id,
         'anon_' || user_id AS anonymous_id,
         CASE WHEN event_type IN ('signup','login') THEN 'u' || user_id END AS uid,
         CASE WHEN event_type IN ('signup','login') THEN CAST(props->>'k' AS VARCHAR) END AS k,
         ts
  FROM events
),
ids AS (
  -- printf('%020d', epoch_us) || message_id is the same total order as
  -- Spark's struct(ts, message_id): fixed-width ts prefix, then the
  -- message_id string lexicographically.
  SELECT anonymous_id,
         arg_max(uid, printf('%020d', epoch_us(ts)) || message_id) AS resolved_user_id,
         arg_max(k, printf('%020d', epoch_us(ts)) || message_id)
           FILTER (WHERE k IS NOT NULL) AS resolved_k
  FROM ev
  WHERE uid IS NOT NULL
  GROUP BY anonymous_id
)
SELECT e.message_id,
       e.anonymous_id,
       coalesce(e.uid, i.resolved_user_id) AS user_id,
       coalesce(e.k, i.resolved_k) AS trait_k,
       (e.uid IS NULL AND i.resolved_user_id IS NOT NULL) AS backfilled
FROM ev e
LEFT JOIN ids i USING (anonymous_id)
"""


def id_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 registry entry — connected components over a derived id graph:
    (u<i>, anon_<i>) identity edges plus (anon_<i>, dev_<i//2>) device
    edges, so consecutive user pairs collapse into one component. The
    generic label-propagation runs on Spark; the oracle exploits the known
    structure (component == min label within the user-pair group), proving
    the iterative algorithm converged to the right fixpoint."""
    uids = load_table(spark, sf_dir, "events").select("user_id").distinct()
    ident_edges = uids.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("id_a"),
        F.concat(F.lit("anon_"), F.col("user_id")).alias("id_b"),
    )
    dev_edges = uids.select(
        F.concat(F.lit("anon_"), F.col("user_id")).alias("id_a"),
        F.concat(F.lit("dev_"), (F.col("user_id") / 2).cast("long")).alias("id_b"),
    )
    return id_graph_components(ident_edges.union(dev_edges))


ID_GRAPH_SQL = """
WITH uids AS (SELECT DISTINCT user_id FROM events),
nodes AS (
  SELECT 'u' || user_id AS id, user_id // 2 AS grp FROM uids
  UNION ALL
  SELECT 'anon_' || user_id, user_id // 2 FROM uids
  UNION ALL
  SELECT DISTINCT 'dev_' || (user_id // 2), user_id // 2 FROM uids
),
comp AS (SELECT grp, min(id) AS component FROM nodes GROUP BY grp)
SELECT n.id, c.component
FROM nodes n JOIN comp c USING (grp)
"""


QUERIES = {
    "identity_stitch": identity_stitch,
    "id_graph": id_graph,
}

ORACLE = {
    "identity_stitch": IDENTITY_STITCH_SQL,
    "id_graph": ID_GRAPH_SQL,
}
