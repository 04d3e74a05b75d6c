"""Exact per-group top-k without sorting any full group.

The naive form — `row_number() OVER (PARTITION BY g ORDER BY s)` then
`rank <= k` — plans a sort of EVERY group's full candidate set inside
single tasks; at 100 TB a hot group (a common query term, a dense Hamming
shell) is one executor sorting its whole posting list. This helper is the
two-phase shape used across the repo (quality_percentile_gate's
histogram rank, the BM25/Hamming bands):

1. a (group, score)-value histogram — bounded by score value space, not
   by candidate count — locates the k-boundary band per group via a
   cumulative window over the compact histogram;
2. only rows at-or-inside the band (<= k + ties per group) survive to the
   exact row_number, which therefore sorts a provably tiny set.

Output rows and rank values are IDENTICAL to the naive window form (any
row with final rank <= k has fewer than k strictly-better scores, hence
lies inside the band), so a plain-window SQL oracle stays the correctness
twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Persisted scored frames from PRIOR calls, oldest first. Nothing can
# unpersist a frame before its own action has consumed it, but unbounded
# accumulation across a long session (bench loops, repeated service
# queries) pins stale cache in the block manager forever (r7 review
# finding). Capped FIFO: evicting an old frame is always SAFE — persist
# keeps lineage, so a straggler consumer merely recomputes. The cap
# leaves headroom for callers holding several live top-ks at once
# (hybrid fusion holds three).
_PERSISTED: list = []
_PERSIST_CAP = 12


def persist_bounded(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    while len(_PERSISTED) > _PERSIST_CAP:
        try:
            _PERSISTED.pop(0).unpersist(blocking=False)
        except Exception:
            pass
    return df


def release_persisted() -> None:
    """Eagerly unpersist every tracked scored frame (r8 review finding:
    the FIFO cap alone can pin up to 12 cached frames in a long-lived
    session). Always SAFE to call once the consumer's action has
    materialized — persist keeps lineage, so any straggler merely
    recomputes. Long-lived hosts (bench loops, query services) should
    call this between requests."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist(blocking=False)
        except Exception:
            pass


def salted_topk(
    scored: DataFrame,
    group_col: str,
    score_col: str,
    k: int,
    tiebreak_col: str,
    descending: bool = True,
    rank_col: str = "rank",
    n_salts: int = 64,
) -> DataFrame:
    """Exact per-group top-k via salted two-level ranking — the shape for
    UNBOUNDED score spaces (float BM25/cosine/RRF scores), where
    `two_phase_topk`'s (group, score) histogram degenerates to ~one row
    per candidate (r12 measurement: the histogram pass + band join more
    than doubled the BM25 ranking cost at 10^3 queries).

    Level 1 ranks within (group, salt) — salt = xxhash64(tiebreak) mod
    n_salts, deterministic under task retry (guide §2.5) — and keeps k
    rows per salt, bounding any hot group to n_salts * k survivors with
    full cluster parallelism. Level 2 ranks the survivors exactly. A row
    with global rank <= k has < k better-ordered rows in its whole
    group, hence < k in its salt slice, so it survives level 1: output
    rows and rank values are IDENTICAL to the naive single window (the
    SQL oracles stay plain-window twins). One pass over `scored` — no
    persist, no self-join.
    """
    order = [
        F.desc(score_col) if descending else F.asc(score_col),
        F.asc(tiebreak_col),
    ]
    w1 = Window.partitionBy(group_col, "_salt").orderBy(*order)
    cand = (
        scored.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(n_salts)),
        )
        .withColumn("_local_rank", F.row_number().over(w1))
        .where(F.col("_local_rank") <= k)
        .drop("_salt", "_local_rank")
    )
    w = Window.partitionBy(group_col).orderBy(*order)
    return cand.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def two_phase_topk(
    scored: DataFrame,
    group_col: str,
    score_col: str,
    k: int,
    tiebreak_col: str,
    descending: bool = True,
    rank_col: str = "rank",
    persist_scored: bool = True,
) -> DataFrame:
    """scored + `rank_col`, filtered to rank <= k per group. Ties on
    `score_col` break by ascending `tiebreak_col` (fully deterministic).

    Both phases walk `scored` (the histogram, then the band join), so by
    default the frame is persisted — the "materialize scores, then rank"
    step of a production ranking stack. persist() keeps lineage (executor
    loss recomputes; no checkpoint fault-tolerance cliff), and the frame
    is skinny (group, score, tiebreak) regardless of corpus width. Pass
    persist_scored=False when the caller's scored plan is cheaper to
    re-evaluate than to cache.
    """
    direction = "DESC" if descending else "ASC"
    if persist_scored:
        scored = persist_bounded(scored)
    hist = scored.groupBy(group_col, score_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    band = hist.selectExpr(
        f"{group_col} AS h_group",
        f"{score_col} AS h_score",
        f"coalesce(sum(cnt) OVER (PARTITION BY {group_col}"
        f" ORDER BY {score_col} {direction}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"
        " AS cnt_better",
    ).where(F.col("cnt_better") < k)
    cand = scored.join(
        band,
        (scored[group_col] == band["h_group"])
        & (scored[score_col] == band["h_score"]),
    ).drop("h_group", "h_score", "cnt_better")
    order = [
        F.desc(score_col) if descending else F.asc(score_col),
        F.asc(tiebreak_col),
    ]
    w = Window.partitionBy(group_col).orderBy(*order)
    return cand.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )
