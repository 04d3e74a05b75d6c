"""Embedding-cluster curation: k-means-style topic clustering over the
`embeddings` table plus the two cluster-driven curation reports a training
pipeline runs on top of it (cluster quality / label purity, and
SemDeDup/D4-style prototypicality pruning).

Capability context: the reference's profile builder aggregates per-entity
state (`services/profiles/src/builder.ts:28-33`) and its reports surface
grouped quality metrics (`webapps/console/lib/shared/reporting.ts`); this
module extends that "group, summarize, act" family to embedding space,
where the groups are semantic clusters — the backbone of cluster-balanced
sampling and semantic pruning in LLM-corpus curation (SemDeDup, D4).

Determinism contract (oracle-checked forms):
- Centroids are FIXED-K deterministic (the K smallest vec_ids) — same
  contract as the oracle-checked IVF in `similarity.py`: K is a constant,
  so assignment is one O(N*K) broadcast pass over the corpus and the
  DuckDB oracle reproduces the centroid set exactly. Serving swaps in a
  k-means|| codebook (`similarity.kmeans_centroids`) — identical plan,
  better cells (`cluster_assign_served`).
- Cosine uses the repo's sequential-fold DOT: bit-identical in Spark and
  DuckDB, so argmax-by-similarity picks the same centroid in both engines.
- All derived statistics that feed comparisons (mean similarity, purity,
  prune thresholds) are integer per-mille arithmetic — no float summation
  whose order could differ across engines.

Scale: the corpus never shuffles for assignment (broadcast centroids);
the per-cluster reports shuffle only (cluster_id, partial-state) with
map-side partial aggregation; the prune window shuffles one row per
vector keyed by cluster_id — K bounded partitions, each processed as a
sorted window. At 100 TB: assignment is embarrassingly parallel; if a
single cluster's membership outgrows one task's window sort, raise K
(more, smaller clusters — the curation-quality fix too) or sub-rank on
a salted pre-aggregation of the per-cluster top slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from .similarity import (
    _COSINE_SCORE,
    DOT,
    DOT_DUCK,
    _argbest_expr,
    _fixed_k_centroids,
    _packed_centroids,
    _with_norm,
    kmeans_centroids,
)

K_CLUSTERS = 12
# Drop the most prototypical 25% of each cluster (D4-style: the docs
# nearest their centroid are the most redundant with the cluster's mass).
PRUNE_TOP_PER_MILLE = 250


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid (cosine) assignment: (vec_id, label, cluster_id,
    csim). MAP-SIDE: the O(K) centroid table packs into one broadcast
    row and each corpus row folds it with a single `aggregate`
    (`similarity._argbest_expr` — the same single-sourced argmax the IVF
    paths use) — the corpus never shuffles and nothing sorts."""
    return (
        emb.join(_packed_centroids(centroids))
        .withColumn("best", F.expr(_argbest_expr(_COSINE_SCORE)))
        # drop the empty-codebook init sentinel (cid=-1, score=-Inf) —
        # matches the inner-join semantics of the windowed form
        .where(F.col("best.cid") >= 0)
        .select(
            "vec_id",
            "label",
            F.col("best.cid").alias("cluster_id"),
            F.col("best.score").alias("csim"),
        )
    )


def _assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.topk import persist_bounded

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"), fan_out=True)
    # r12 (guide §5 reuse): every consumer walks this frame at least
    # twice (the two-phase ranks each take a histogram AND a window pass;
    # the quality report aggregates it twice), so the broadcast-fold
    # assignment pass re-ran per walk. Persist the skinny verdict
    # (4 scalars/vector, no embedding) — bounded-cache lifecycle.
    return persist_bounded(
        _assign(emb, _fixed_k_centroids(emb, K_CLUSTERS))
    )


def embedding_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector cluster assignment: (vec_id, cluster_id, sim)."""
    return _assigned(spark, sf_dir).select(
        "vec_id", "cluster_id", F.round("csim", 4).alias("sim")
    )


def cluster_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster curation report: size, mean similarity-to-centroid
    (per-mille integer — no float summation), majority label and its
    purity share (per-mille). The 'which clusters are coherent enough to
    sample from' query."""
    assigned = _assigned(spark, sf_dir).withColumn(
        # shift to nonnegative so integer division is floor in both engines
        "spm_shift",
        F.expr("CAST(floor(csim * 1000) AS BIGINT) + 1000"),
    )
    per_cluster = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("spm_shift").alias("sum_spm"),
    )
    votes = assigned.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("cluster_id").orderBy(
        F.desc("votes"), F.asc("label")
    )
    top = (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("label").alias("top_label"), "votes")
    )
    return (
        per_cluster.join(top, "cluster_id")
        .selectExpr(
            "cluster_id",
            "n_vecs",
            "(sum_spm DIV n_vecs) - 1000 AS mean_sim_pm",
            "top_label",
            "(votes * 1000) DIV n_vecs AS purity_pm",
        )
    )


# The prune/quota stages are defined ONCE here and reused by both the
# standalone operators and the composed pipeline — a drift in either
# predicate would silently break test_accounting_is_consistent's
# standalone-vs-composed equality.
_PRUNE_KEEP = f"proto_rank > (n_c * {PRUNE_TOP_PER_MILLE}) DIV 1000"


def _proto_ranked_window(assigned: DataFrame) -> DataFrame:
    """Small-scale twin of `_proto_ranked`: direct per-cluster windows.
    PARTITION BY cluster_id at fixed K=12 puts N/12 rows in ONE task's
    sort — kept only as the parity reference for the range-bucketed form."""
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc("csim"), F.asc("vec_id")
    )
    wc = Window.partitionBy("cluster_id")
    return assigned.withColumn(
        "proto_rank", F.row_number().over(wr)
    ).withColumn("n_c", F.count(F.lit(1)).over(wc))


# Range-bucket granularity for the two-phase ranks: csim in [-1, 1] maps to
# ~2000 integer bands, so each task sorts only the rows whose similarity
# falls in one 0.001-wide band of one cluster (raise for tighter bands).
RANK_BANDS_PER_UNIT = 1000


def _proto_ranked(assigned: DataFrame) -> DataFrame:
    """Add (proto_rank, n_c): per-cluster rank by similarity-to-centroid,
    most prototypical first (ties by vec_id). EXACTLY equal to the window
    twin, computed as a range-bucketed two-phase rank so no task ever
    sorts a whole cluster:

    1. band = floor(csim * RANK_BANDS_PER_UNIT) — a monotone range key, so
       within-band local order + cross-band offsets compose to the global
       row_number (a hash salt could not be merged exactly).
    2. The per-(cluster, band) count histogram is compact (K x ~2001 rows
       regardless of N); cumulative counts over it give each band's rank
       offset and the cluster total n_c — the same broadcast-histogram
       pattern as quality_filters.quality_percentile_gate.
    3. row_number repartitions by (cluster_id, band): each sort task holds
       one similarity band of one cluster, not a K-th of the corpus.
    """
    banded = assigned.withColumn(
        "pband", F.expr(f"CAST(floor(csim * {RANK_BANDS_PER_UNIT}) AS BIGINT)")
    )
    hist = banded.groupBy("cluster_id", "pband").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    offs = hist.selectExpr(
        "cluster_id AS o_cluster",
        "pband AS o_band",
        # rows in strictly-higher bands rank ahead of this band
        "coalesce(sum(cnt) OVER (PARTITION BY cluster_id ORDER BY pband DESC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS n_before",
        "sum(cnt) OVER (PARTITION BY cluster_id) AS n_c",
    )
    wl = Window.partitionBy("cluster_id", "pband").orderBy(
        F.desc("csim"), F.asc("vec_id")
    )
    return (
        banded.withColumn("local_rank", F.row_number().over(wl))
        .join(
            offs,
            (F.col("cluster_id") == F.col("o_cluster"))
            & (F.col("pband") == F.col("o_band")),
        )
        # cast back to the window twin's row_number type (int)
        .withColumn(
            "proto_rank",
            (F.col("n_before") + F.col("local_rank")).cast("int"),
        )
        .drop("pband", "local_rank", "o_cluster", "o_band", "n_before")
    )


def cluster_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup/D4-style prototypicality prune verdict: within each
    cluster, rank vectors by similarity-to-centroid (most prototypical
    first) and drop the top PRUNE_TOP_PER_MILLE fraction — the items most
    redundant with the cluster's semantic mass. Output one verdict row per
    vector: (vec_id, cluster_id, proto_rank, keep)."""
    return _proto_ranked(_assigned(spark, sf_dir)).selectExpr(
        "vec_id",
        "cluster_id",
        "proto_rank",
        f"{_PRUNE_KEEP} AS keep",
    )


CLUSTER_QUOTA = 30  # per-cluster cap for the balanced subset


def _quota_pick_window(df: DataFrame) -> DataFrame:
    """Small-scale twin of `_quota_pick`: one window sorting each cluster's
    FULL membership just to keep CLUSTER_QUOTA rows — parity reference only."""
    from .sampling import _bucket

    wq = Window.partitionBy("cluster_id").orderBy(
        F.asc("bucket"), F.asc("vec_id")
    )
    return (
        df.withColumn("bucket", _bucket(F.col("vec_id")))
        .withColumn("pick_rank", F.row_number().over(wq))
        .where(F.col("pick_rank") <= CLUSTER_QUOTA)
    )


def _quota_pick(df: DataFrame) -> DataFrame:
    """Add (bucket, pick_rank) and keep CLUSTER_QUOTA rows per cluster,
    chosen by deterministic md5-bucket order (`sampling._bucket`, ties by
    vec_id) — stable under repartitioning, reruns, and engines.

    Two-phase form, exactly equal to the window twin: the md5 bucket
    (0..999) IS the leading sort key, so it doubles as the range band.
    The per-(cluster, bucket) histogram yields each bucket's rank offset;
    buckets whose offset already exceeds the quota are PRUNED before the
    rank window runs, so the sort input shrinks to the first few buckets
    of each cluster (~quota rows per cluster) instead of full membership."""
    from .sampling import _bucket

    bucketed = df.withColumn("bucket", _bucket(F.col("vec_id")))
    hist = bucketed.groupBy("cluster_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    offs = hist.selectExpr(
        "cluster_id AS o_cluster",
        "bucket AS o_bucket",
        "coalesce(sum(cnt) OVER (PARTITION BY cluster_id ORDER BY bucket ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS n_before",
    ).where(F.col("n_before") < CLUSTER_QUOTA)
    wq = Window.partitionBy("cluster_id", "bucket").orderBy(F.asc("vec_id"))
    return (
        bucketed.join(
            offs,
            (F.col("cluster_id") == F.col("o_cluster"))
            & (F.col("bucket") == F.col("o_bucket")),
        )
        .withColumn(
            "pick_rank",
            (F.col("n_before") + F.row_number().over(wq)).cast("int"),
        )
        .where(F.col("pick_rank") <= CLUSTER_QUOTA)
        .drop("o_cluster", "o_bucket", "n_before")
    )


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subset: cap every semantic cluster at
    CLUSTER_QUOTA members so no topic dominates — the balanced-mix
    selection step (fine-tuning sets, eval pools) that runs after
    assignment. Members are chosen by deterministic md5-bucket order
    (ties by vec_id), so the subset is stable under repartitioning,
    reruns, and engines — the same no-RNG contract as
    `sampling.stratified_sample_documents`.

    Scale: assignment is the map-side fold; the per-cluster rank is one
    window keyed by cluster_id over (vec_id, bucket) rows — skinny rows,
    K bounded partitions."""
    return _quota_pick(_assigned(spark, sf_dir)).select(
        "vec_id", "cluster_id", "pick_rank"
    )


def semantic_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed semantic-curation job — the cluster-family counterpart of
    `corpus.corpus_prep_pipeline`: assign -> prototypicality-prune (drop
    the most redundant 25% per cluster) -> quota-cap the survivors
    (balanced subset) -> join the verdict onto `documents` (doc_id ==
    vec_id in the synthetic corpus) and account the outcome per source.
    Output one row per source: docs in, docs kept, chars kept — the
    "what did semantic curation do to my mix" report a pipeline owner
    reads before training.

    ONE assignment pass feeds all three stages (same DataFrame lineage,
    same `_proto_ranked`/`_quota_pick` helpers as the standalone
    operators — no predicate drift possible); the corpus joins the
    verdict by id, never shuffles for assignment."""
    from ..plans.topk import persist_bounded

    # r12: the quota stage walks its input twice (bucket histogram +
    # window join) — persist the skinny survivor ids so the prune
    # stage's rank join runs once, not twice.
    survivors = persist_bounded(
        _proto_ranked(_assigned(spark, sf_dir))
        .where(F.expr(_PRUNE_KEEP))
        .select("vec_id", "cluster_id")
    )
    kept = _quota_pick(survivors).select(F.col("vec_id").alias("doc_id"))
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(kept.withColumn("kept", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("kept"), F.lit(0))).alias("n_kept"),
            F.sum(
                F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0)
            ).alias("kept_chars"),
        )
    )


def cluster_assign_served(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS
) -> DataFrame:
    """Serving-path assignment: identical plan to the oracle form but with
    a k-means|| codebook (`similarity.kmeans_centroids`) instead of fixed
    seed vectors — better cells, not oracle-checked (k-means is
    iterative/seed-dependent). Returns (vec_id, label, cluster_id, csim)."""
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"), fan_out=True)
    cents = kmeans_centroids(emb, k=k).select(
        "centroid_id",
        "c_emb",
        F.expr(f"sqrt({DOT.format(a='c_emb', b='c_emb')})").alias("c_norm"),
    )
    return _assign(emb, cents)


_ASSIGNED_DUCK = f"""
e AS (
  SELECT vec_id, embedding, label,
         sqrt({DOT_DUCK.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
  WHERE {DOT_DUCK.format(a='embedding', b='embedding')} > 0
),
cent AS (
  SELECT vec_id AS cluster_id, embedding AS c_emb, norm AS c_norm
  FROM e WHERE vec_id < {K_CLUSTERS}
),
scored AS (
  SELECT e.vec_id, e.label, cent.cluster_id,
         {DOT_DUCK.format(a='c_emb', b='embedding')} / (cent.c_norm * e.norm) AS csim
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, label, cluster_id, csim
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY csim DESC, cluster_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
"""

CLUSTER_ASSIGN_SQL = f"""
WITH {_ASSIGNED_DUCK}
SELECT vec_id, cluster_id, round(csim, 4) AS sim FROM assigned
"""

CLUSTER_QUALITY_SQL = f"""
WITH {_ASSIGNED_DUCK},
shifted AS (
  SELECT *, CAST(floor(csim * 1000) AS BIGINT) + 1000 AS spm_shift
  FROM assigned
),
per_cluster AS (
  SELECT cluster_id, count(*) AS n_vecs, sum(spm_shift) AS sum_spm
  FROM shifted GROUP BY 1
),
votes AS (
  SELECT cluster_id, label, count(*) AS votes
  FROM assigned GROUP BY 1, 2
),
top AS (
  SELECT cluster_id, label AS top_label, votes
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cluster_id ORDER BY votes DESC, label ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT p.cluster_id, p.n_vecs,
       CAST((p.sum_spm // p.n_vecs) - 1000 AS BIGINT) AS mean_sim_pm,
       t.top_label,
       CAST((t.votes * 1000) // p.n_vecs AS BIGINT) AS purity_pm
FROM per_cluster p JOIN top t USING (cluster_id)
"""

# Shared SQL fragments mirroring _proto_ranked / _PRUNE_KEEP /
# _quota_pick — one source of truth per stage on the oracle side too.
_RANKED_DUCK = """
ranked AS (
  SELECT vec_id, cluster_id,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY csim DESC, vec_id ASC)
           AS proto_rank,
         count(*) OVER (PARTITION BY cluster_id) AS n_c
  FROM assigned
)
"""
_PRUNE_KEEP_DUCK = f"proto_rank > (n_c * {PRUNE_TOP_PER_MILLE}) // 1000"


def _quota_pick_duck(src: str) -> str:
    from .sampling import _bucket_duck

    return f"""
  SELECT vec_id, cluster_id, pick_rank
  FROM (
    SELECT vec_id, cluster_id,
           row_number() OVER (
             PARTITION BY cluster_id ORDER BY bucket ASC, vec_id ASC)
             AS pick_rank
    FROM (SELECT vec_id, cluster_id,
                 {_bucket_duck('vec_id')} AS bucket
          FROM {src})
  ) WHERE pick_rank <= {CLUSTER_QUOTA}
"""


CLUSTER_PRUNE_SQL = f"""
WITH {_ASSIGNED_DUCK},
{_RANKED_DUCK}
SELECT vec_id, cluster_id, proto_rank,
       {_PRUNE_KEEP_DUCK} AS keep
FROM ranked
"""


CLUSTER_BALANCED_SQL = f"""
WITH {_ASSIGNED_DUCK}
{_quota_pick_duck('assigned')}
"""


SEMANTIC_CURATION_SQL = f"""
WITH {_ASSIGNED_DUCK},
{_RANKED_DUCK},
survivors AS (
  SELECT vec_id, cluster_id FROM ranked WHERE {_PRUNE_KEEP_DUCK}
),
kept AS (
  SELECT vec_id AS doc_id FROM ({_quota_pick_duck('survivors')})
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars
FROM documents d LEFT JOIN kept k USING (doc_id)
GROUP BY 1
"""


QUERIES = {
    "embedding_cluster_assign": embedding_cluster_assign,
    "cluster_quality_report": cluster_quality_report,
    "cluster_prototype_prune": cluster_prototype_prune,
    "cluster_balanced_sample": cluster_balanced_sample,
    "semantic_curation_pipeline": semantic_curation_pipeline,
}
ORACLE = {
    "embedding_cluster_assign": CLUSTER_ASSIGN_SQL,
    "cluster_quality_report": CLUSTER_QUALITY_SQL,
    "cluster_prototype_prune": CLUSTER_PRUNE_SQL,
    "cluster_balanced_sample": CLUSTER_BALANCED_SQL,
    "semantic_curation_pipeline": SEMANTIC_CURATION_SQL,
}
