"""Composed corpus-preparation pipeline — the end-to-end shape a training
data run actually executes: quality gate -> exact dedup -> deterministic
sample -> accounting. Each stage is the same logic as its standalone
operator (text_ops quality features, dedup exact-hash canonicalization,
sampling md5 buckets); this operator proves they compose in ONE job.

Scale notes (100 TB stance):
- Stages 1 (gate) and 3 (sample) are pure scan-side filters — they fuse
  into the document scan inside whole-stage codegen; nothing shuffles.
- Stage 2 (dedup) is the only shuffle: hash by md5(text) for a
  row_number window. The full text crosses the wire once, which is
  unavoidable for content dedup; everything after operates on the
  deduped minority.
- Stage 4 re-shuffles only (source, partial-stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from .sampling import _bucket, _bucket_duck
from .text_ops import TOKENS, TOKENS_DUCK, _SW

SAMPLE_PER_MILLE = 700
MIN_TOKENS = 20
MIN_STOPWORD_RATIO = 0.02


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality gate -> exact dedup -> 70% deterministic sample -> stats."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "doc_id",
        "source",
        "text",
        f"size({TOKENS}) AS n_tok",
        f"size(filter({TOKENS}, x -> x IN ({_SW}))) / size({TOKENS}) AS sw_ratio",
    )
    gated = scored.where(
        (F.col("n_tok") >= MIN_TOKENS)
        & (F.col("sw_ratio") >= MIN_STOPWORD_RATIO)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    sampled = deduped.where(_bucket(F.col("doc_id")) < SAMPLE_PER_MILLE)
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("sw_ratio"), 4).alias("avg_stopword_ratio"),
        )
        .orderBy("source")
    )


CORPUS_PREP_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, text,
         len({TOKENS_DUCK}) AS n_tok,
         len(list_filter({TOKENS_DUCK}, x -> x IN ({_SW}))) * 1.0
           / len({TOKENS_DUCK}) AS sw_ratio
  FROM documents
),
gated AS (
  SELECT * FROM scored
  WHERE n_tok >= {MIN_TOKENS} AND sw_ratio >= {MIN_STOPWORD_RATIO}
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
sampled AS (
  SELECT * FROM deduped WHERE {_bucket_duck('doc_id')} < {SAMPLE_PER_MILLE}
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(avg(sw_ratio), 4) AS avg_stopword_ratio
FROM sampled
GROUP BY source
ORDER BY source
"""


# -- snapshot diff -----------------------------------------------------------
#
# Incremental corpus versioning: which docs were added / removed /
# changed between two snapshots — the op that turns a full-reprocess
# pipeline into an incremental one (only the diff re-enters dedup /
# quality / indexing). Same role the warehouse sink's MERGE dedup plays
# for events (`sinks.py`), applied to the corpus side.

DIFF_REMOVED_LT = 50     # old-only buckets: present before, deleted now
DIFF_ADDED_GE = 950      # new-only buckets: crawled since the snapshot
DIFF_CHANGED_LO = 450    # re-crawled docs whose content drifted
DIFF_CHANGED_HI = 500


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """(key, status in added|removed|changed) between two snapshots.

    Scale: the content hash is computed MAP-SIDE before the join, so only
    (key, 32-char md5) crosses the wire — never the document bodies. The
    diff itself is one co-partitioned full-outer join on the key; with
    both snapshots stored key-bucketed (`plans/bucketing.py`) even that
    exchange disappears. Unchanged rows (the overwhelming majority of a
    daily snapshot pair) are filtered before any downstream consumer.

    Presence is carried by explicit per-side markers, NOT hash nullness
    (r5 review: md5(NULL) = NULL, so a doc present in both snapshots
    with NULL content would masquerade as added/removed). NULL == NULL
    content compares as unchanged (null-safe equality)."""
    oh = old.select(
        F.col(key), F.md5(content_col).alias("old_h"),
        F.lit(True).alias("_in_old"),
    )
    nh = new.select(
        F.col(key), F.md5(content_col).alias("new_h"),
        F.lit(True).alias("_in_new"),
    )
    j = oh.join(nh, key, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~F.col("old_h").eqNullSafe(F.col("new_h")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col(key), status.alias("status")).where(
        F.col("status") != "unchanged"
    )


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: diff two deterministic md5-bucket-derived snapshots
    of the documents table (old = buckets < 950, new = buckets >= 50 with
    content drift injected in [450, 500)) — removed / added / changed are
    each exercised, and the derivation is reproducible in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    old = docs.where(b < DIFF_ADDED_GE)
    new = docs.where(b >= DIFF_REMOVED_LT).withColumn(
        "text",
        F.when(
            b.between(DIFF_CHANGED_LO, DIFF_CHANGED_HI - 1),
            F.concat(F.col("text"), F.lit(" [rev2]")),
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


SNAPSHOT_DIFF_SQL = f"""
WITH old AS (
  SELECT doc_id, md5(text) AS old_h FROM documents
  WHERE {_bucket_duck('doc_id')} < {DIFF_ADDED_GE}
),
new AS (
  SELECT doc_id,
         md5(CASE WHEN {_bucket_duck('doc_id')} BETWEEN {DIFF_CHANGED_LO}
                       AND {DIFF_CHANGED_HI - 1}
                  THEN text || ' [rev2]' ELSE text END) AS new_h
  FROM documents
  WHERE {_bucket_duck('doc_id')} >= {DIFF_REMOVED_LT}
)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old_h IS NULL THEN 'added'
            WHEN new_h IS NULL THEN 'removed'
            WHEN old_h <> new_h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
WHERE old_h IS NULL OR new_h IS NULL OR old_h <> new_h
"""


# -- composed incremental-corpus pipeline ------------------------------------
#
# The "daily crawl increment" job the incremental operators exist for:
# diff yesterday's corpus against today's crawl, re-ingest ONLY the
# added/changed docs through fingerprint dedup against the retained
# corpus, and re-run token-budget selection over the merged result.
# Composes snapshot_diff -> dedup.verdicts_against_store (in-plan store)
# -> sampling.token_budget_over in ONE declarative plan.
#
# Scale notes (100 TB stance):
# - The diff and the fingerprint store both move (key, 32-char md5)
#   pairs only — document bodies never shuffle for bookkeeping.
# - The affected/increment id lists are diff-sized (a daily delta),
#   broadcast into semi/anti joins against the snapshots.
# - verdicts_against_store keeps its audited direction: the store side
#   streams, the batch side broadcasts.
# - The budget stage is the two-phase histogram cumsum — no per-source
#   single-task sort.

INCR_BUDGET_PER_MILLE = 800


def incremental_corpus(
    old: DataFrame, new: DataFrame, per_mille: int = INCR_BUDGET_PER_MILLE
) -> DataFrame:
    """One increment tick over (old snapshot, new crawl) frames with
    (doc_id, source, text). The previous tick's corpus is the old
    snapshot's exact-dedup canonicals (min doc_id per content hash);
    docs the diff marks removed/changed leave it, docs marked
    added/changed re-enter through the fingerprint gate. Output: one row
    per merged-corpus doc — (doc_id, source, origin retained|ingested,
    n_tok, cum_before, budget_tok, selected).

    Pinned equal (tests/test_corpus_increment.py) to the from-scratch
    spec on the same universe: one doc per distinct content hash of
    retained ∪ batch, retained canonical preferred, else min batch
    doc_id — the first-seen-wins semantics every incremental dedup store
    implements."""
    from .dedup import verdicts_against_store
    from .sampling import _bucket, token_budget_over
    from .text_ops import TOKENS

    # The diff is DELTA-sized (only changed rows) and feeds four
    # consumers (affected, batch_ids, and through them every later
    # stage); left live, each consumer re-derives the full-outer join —
    # the plan audit showed 40 parquet scans. One bounded
    # localCheckpoint pins it (the fingerprint_verdicts pattern:
    # checkpointing is reserved for delta-bounded frames, never the
    # corpus — r6 advice).
    diff = snapshot_diff(old, new).localCheckpoint(eager=True)
    affected = diff.where(
        F.col("status").isin("removed", "changed")
    ).select("doc_id")
    # The previous tick's corpus: old-snapshot exact-dedup canonicals.
    # r13 (guide §2.4, the dedup_exact r12 window pattern): the canonical
    # election is ONE window over the content-hash exchange instead of a
    # min-doc_id aggregate SEMI-JOINED back onto the snapshot — the
    # join-back re-walked `old` once more per reference and shuffled the
    # text-bearing snapshot by doc_id on top of the aggregate's hash
    # exchange. The window frame also CARRIES the hash, so the
    # fingerprint store below reuses it instead of re-hashing the
    # retained text (one md5 pass over the corpus, not two).
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    retained_h = (
        old.withColumn("h", F.md5("text"))
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .drop("rn")
        .join(affected, "doc_id", "left_anti")
    )
    retained = retained_h.drop("h")
    batch_ids = diff.where(
        F.col("status").isin("added", "changed")
    ).select("doc_id")
    # batch is also delta-sized (the increment's docs, text included)
    # and referenced four times across the verdict join and the merge —
    # same bounded-checkpoint rationale as the diff
    batch = new.join(
        batch_ids, "doc_id", "left_semi"
    ).localCheckpoint(eager=True)
    # retained docs are canonical-per-hash, so this store is hash-unique;
    # the hash rides from the election window (no second md5 pass)
    store = retained_h.selectExpr(
        "h AS text_hash", "doc_id AS canonical_id"
    )
    verdicts = verdicts_against_store(batch, store)
    ingested = batch.join(
        verdicts.where(F.col("verdict") == "new").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    merged = retained.withColumn(
        "origin", F.lit("retained")
    ).unionByName(ingested.withColumn("origin", F.lit("ingested")))
    # (r13, tried and REVERTED: persisting the skinny scored frame so
    # token_budget_over's two walks share one tokenize/election pass
    # measured 1.58 -> 2.15 median at sf0.1 with jobs 23 -> 24 — the
    # persist MATERIALIZATION serializes the whole merged lineage before
    # the budget branches, while the two walks run concurrently on idle
    # cores; the same concurrent-rewalk verdict as r12's
    # domain_mixture_weights. The window election above already cut the
    # plan's corpus scans 16 -> 8.)
    scored = merged.selectExpr(
        "doc_id",
        "source",
        "origin",
        f"CAST(size({TOKENS}) AS BIGINT) AS n_tok",
    ).withColumn("bucket", _bucket(F.col("doc_id")))
    return token_budget_over(scored, per_mille).select(
        "doc_id", "source", "origin", "n_tok",
        "cum_before", "budget_tok", "selected",
    )


def corpus_increment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: run the composed increment job on the same
    deterministic snapshot derivation `corpus_snapshot_diff` uses (old =
    buckets < 950, new = buckets >= 50 with drift injected in
    [450, 500)) — added, removed, and changed docs all exercised."""
    from .sampling import _bucket

    # (r12, tried and reverted: a shared fan_out_scan below both
    # snapshot filters — guide §2.5 for the single-task old-canonical
    # md5 / verdict-store md5 / merged-tokenize passes — measured 1.77
    # -> 3.75 median at sf0.1: the RoundRobin exchange moves corpus text
    # and serializes ahead of the eager diff checkpoint, costing more
    # than the concurrent single-task passes it parallelizes. Same
    # concurrent-rewalk verdict as domain_mixture_weights.)
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    old = docs.where(b < DIFF_ADDED_GE).select("doc_id", "source", "text")
    new = (
        docs.where(b >= DIFF_REMOVED_LT)
        .withColumn(
            "text",
            F.when(
                b.between(DIFF_CHANGED_LO, DIFF_CHANGED_HI - 1),
                F.concat(F.col("text"), F.lit(" [rev2]")),
            ).otherwise(F.col("text")),
        )
        .select("doc_id", "source", "text")
    )
    return incremental_corpus(old, new)


def _incr_pipeline_duck() -> str:
    from .sampling import _bucket_duck
    from .text_ops import TOKENS_DUCK

    return f"""
WITH old AS (
  SELECT doc_id, source, text FROM documents
  WHERE {_bucket_duck('doc_id')} < {DIFF_ADDED_GE}
),
new AS (
  SELECT doc_id, source,
         CASE WHEN {_bucket_duck('doc_id')} BETWEEN {DIFF_CHANGED_LO}
                   AND {DIFF_CHANGED_HI - 1}
              THEN text || ' [rev2]' ELSE text END AS text
  FROM documents
  WHERE {_bucket_duck('doc_id')} >= {DIFF_REMOVED_LT}
),
diff AS (
  SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
         CASE WHEN old.doc_id IS NULL THEN 'added'
              WHEN new.doc_id IS NULL THEN 'removed'
              WHEN md5(old.text) <> md5(new.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
),
old_canon AS (
  SELECT min(doc_id) AS doc_id FROM old GROUP BY md5(text)
),
retained AS (
  SELECT o.* FROM old o JOIN old_canon c USING (doc_id)
  WHERE o.doc_id NOT IN
        (SELECT doc_id FROM diff WHERE status IN ('removed', 'changed'))
),
batch AS (
  SELECT n.* FROM new n
  WHERE n.doc_id IN
        (SELECT doc_id FROM diff WHERE status IN ('added', 'changed'))
),
ingested AS (
  SELECT b.* FROM batch b
  JOIN (SELECT md5(text) AS h, min(doc_id) AS bmin
        FROM batch GROUP BY 1) bc
    ON md5(b.text) = bc.h AND b.doc_id = bc.bmin
  WHERE md5(b.text) NOT IN (SELECT md5(text) FROM retained)
),
merged AS (
  SELECT doc_id, source, text, 'retained' AS origin FROM retained
  UNION ALL
  SELECT doc_id, source, text, 'ingested' AS origin FROM ingested
),
scored AS (
  SELECT doc_id, source, origin,
         CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tok,
         {_bucket_duck('doc_id')} AS bucket
  FROM merged
),
cum AS (
  SELECT doc_id, source, origin, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY source
           ORDER BY bucket ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         sum(n_tok) OVER (PARTITION BY source) AS total_tok
  FROM scored
)
SELECT doc_id, source, origin, n_tok,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST((total_tok * {INCR_BUDGET_PER_MILLE}) // 1000 AS BIGINT)
         AS budget_tok,
       cum_before < (total_tok * {INCR_BUDGET_PER_MILLE}) // 1000 AS selected
FROM cum
"""


CORPUS_INCREMENT_SQL = _incr_pipeline_duck()


def corpus_dedup_suite(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> dict[str, DataFrame]:
    """The composed dedup run a real pipeline executes: materialize the
    LSH near-dup cluster map ONCE (`dedup.build_cluster_map` — the only
    shingle scan in the whole suite), then derive every cluster consumer
    from the stored map. Standalone, each consumer reruns the
    shingle -> LSH -> components pass (~the corpus's most expensive scan);
    composed, that pass runs exactly once and the consumers are
    broadcast joins of the (small) stored map onto the corpus.

    Returns {near_dup_clusters, dedup_keep_list, leakage_safe_split} —
    each bit-identical to its standalone registry twin (pinned by
    tests/test_cluster_map.py)."""
    from .dedup import build_cluster_map, dedup_keep_list, load_cluster_map
    from .packing import leakage_safe_split

    build_cluster_map(spark, sf_dir, store_dir)
    clusters = load_cluster_map(spark, store_dir)
    return {
        "near_dup_clusters": clusters,
        "dedup_keep_list": dedup_keep_list(spark, sf_dir, clusters=clusters),
        "leakage_safe_split": leakage_safe_split(
            spark, sf_dir, clusters=clusters
        ),
    }


# ---------------------------------------------------------------------------
# Dataset card (round 7) — the per-(source, lang) release table every
# published corpus ships: volume, token mass, exact-duplicate rate, and
# the quality-gate pass rate, in one composed job. Composes the exact-dup
# hash count with the Gopher rule bundle (`quality_filters`) so the card
# is consistent BY CONSTRUCTION with the gates the pipeline actually ran.
#
# Scale: one documents scan computes tokens + content hash; the dup-count
# join shuffles only (hash) pairs; the Gopher flags ride their own scan
# (two total) and join back on doc_id; the final aggregate is
# (sources x langs)-sized. All rates are exact integer ratios.
# ---------------------------------------------------------------------------


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, lang, n_docs, total_tokens, avg_tokens, n_exact_dup,
    dup_rate, n_quality_keep, keep_rate)."""
    from .quality_filters import gopher_quality_flags

    docs = load_table(spark, sf_dir, "documents")
    base = docs.selectExpr(
        "doc_id",
        "source",
        "lang",
        f"size({TOKENS}) AS n_tokens",
        "md5(text) AS h",
    )
    dupc = base.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    keep = gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    j = base.join(dupc, "h").join(keep, "doc_id")
    return (
        j.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.sum((F.col("c") > 1).cast("long")).alias("n_exact_dup"),
            F.sum(F.col("keep").cast("long")).alias("n_quality_keep"),
        )
        .selectExpr(
            "source",
            "lang",
            "n_docs",
            "total_tokens",
            "avg_tokens",
            "n_exact_dup",
            "round(n_exact_dup / n_docs, 4) AS dup_rate",
            "n_quality_keep",
            "round(n_quality_keep / n_docs, 4) AS keep_rate",
        )
    )


def _datacard_duck() -> str:
    from .quality_filters import GOPHER_QUALITY_SQL

    return f"""
WITH base AS (
  SELECT doc_id, source, lang, len({TOKENS_DUCK}) AS n_tokens,
         md5(text) AS h
  FROM documents
), dupc AS (
  SELECT h, count(*) AS c FROM base GROUP BY 1
), gopher AS ({GOPHER_QUALITY_SQL})
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup,
       round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS dup_rate,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_keep,
       round(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS keep_rate
FROM base JOIN dupc USING (h) JOIN gopher USING (doc_id)
GROUP BY 1, 2
"""


CORPUS_DATACARD_SQL = _datacard_duck()


# ---------------------------------------------------------------------------
# Shard manifest: the accounting pass a sharded training-output writer runs
# BEFORE writing — deterministic shard assignment (md5 bucket of doc_id, so
# assignment is stable across engines, partitionings and re-runs) plus
# per-shard token/char mass, the numbers a packing scheduler needs to size
# readers. At 100 TB this is one groupBy over N_SHARDS keys with map-side
# combine (tokens are counted in the scan projection; text never shuffles);
# the write itself would be `df.repartition(shard).write.partitionBy(shard)`
# against the same assignment expression.
# ---------------------------------------------------------------------------

N_SHARDS = 16


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            (_bucket(F.col("doc_id")) % N_SHARDS).alias("shard"),
            "doc_id",
            "n_chars",
            F.expr(f"size({TOKENS})").alias("n_tok"),
            "lang",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


SHARD_MANIFEST_SQL = f"""
SELECT {_bucket_duck('doc_id')} % {N_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(len({TOKENS_DUCK})) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       count(DISTINCT lang) AS n_langs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Snapshot drift PSI: population-stability-index between two corpus
# snapshots, per released dimension (source mix, power-of-two token-length
# bins). PSI = sum over buckets of (p_new - p_old) * ln(p_new / p_old) —
# the standard pre-retrain drift gate (rule of thumb: term sums > 0.2 mean
# the mix shifted enough to re-tune). Snapshots are the registry's usual
# deterministic md5-bucket halves of `documents` (old = bucket < 500,
# new = bucket >= 500), so the derivation reproduces in the oracle.
#
# Engine-exactness: shares are quantized to exact integer PER-MYRIAD
# (1e4) with +1 Laplace smoothing and a greatest(1, ...) clamp — past
# ~10k docs per half the floor division alone would quantize an absent
# bucket's share to 0 and ln() would drop exactly the maximum-drift
# terms; the clamp keeps every share a positive integer so the float
# ln() runs on IDENTICAL small rationals in both engines (terms
# rounded to 6 digits).
#
# Scale: one scan with the bucket/dim expressions fused scan-side, one
# tiny (dim, bucket, half) aggregate (bounded by sources + ~40 length
# bins), broadcast totals. The corpus never shuffles.
# ---------------------------------------------------------------------------

DRIFT_SPLIT_AT = 500


def snapshot_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    dims = docs.select(
        F.when(b < DRIFT_SPLIT_AT, F.lit("old")).otherwise(F.lit("new"))
        .alias("half"),
        F.col("source"),
        F.expr(
            f"concat('len2^', CAST(floor(log2(greatest(size({TOKENS}), 1)))"
            " AS BIGINT))"
        ).alias("len_bin"),
    )
    # ONE corpus scan: both dimension rows come out of a single projection
    # via inline (a self-unionAll would scan — and re-tokenize — twice)
    longd = dims.selectExpr(
        "half",
        "inline(array(named_struct('dim', 'source', 'bucket', source),"
        " named_struct('dim', 'length', 'bucket', len_bin)))",
    )
    counts = (
        longd.groupBy("dim", "bucket")
        .agg(
            F.sum(F.when(F.col("half") == "old", 1).otherwise(0)).alias("c_old"),
            F.sum(F.when(F.col("half") == "new", 1).otherwise(0)).alias("c_new"),
        )
    )
    totals = counts.groupBy("dim").agg(
        F.sum("c_old").alias("t_old"),
        F.sum("c_new").alias("t_new"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    return (
        counts.join(totals, "dim")
        .selectExpr(
            "dim",
            "bucket",
            "c_old",
            "c_new",
            # greatest(1, ...): past ~10k docs per half the floor division
            # alone would quantize an absent bucket's share to 0 and ln()
            # would NULL/inf out exactly the maximum-drift terms — clamp
            # so every bucket keeps a >= 1 per-myriad share
            "greatest(1L, ((c_old + 1) * 10000) div (t_old + n_buckets))"
            " AS p_old_pmy",
            "greatest(1L, ((c_new + 1) * 10000) div (t_new + n_buckets))"
            " AS p_new_pmy",
        )
        .selectExpr(
            "dim",
            "bucket",
            "c_old",
            "c_new",
            "p_old_pmy",
            "p_new_pmy",
            "round(((p_new_pmy - p_old_pmy) / 10000.0)"
            " * ln(p_new_pmy / (p_old_pmy * 1.0)), 6) AS psi_term",
        )
    )


SNAPSHOT_DRIFT_SQL = f"""
WITH dims AS (
  SELECT CASE WHEN {_bucket_duck('doc_id')} < {DRIFT_SPLIT_AT}
              THEN 'old' ELSE 'new' END AS half,
         source,
         'len2^' || CAST(CAST(floor(log2(greatest(len({TOKENS_DUCK}), 1)))
                          AS BIGINT) AS VARCHAR) AS len_bin
  FROM documents
),
longd AS (
  SELECT half, 'source' AS dim, source AS bucket FROM dims
  UNION ALL
  SELECT half, 'length' AS dim, len_bin AS bucket FROM dims
),
counts AS (
  SELECT dim, bucket,
         CAST(sum(CASE WHEN half = 'old' THEN 1 ELSE 0 END) AS BIGINT)
           AS c_old,
         CAST(sum(CASE WHEN half = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS c_new
  FROM longd GROUP BY 1, 2
),
totals AS (
  SELECT dim, CAST(sum(c_old) AS BIGINT) AS t_old,
         CAST(sum(c_new) AS BIGINT) AS t_new,
         count(*) AS n_buckets
  FROM counts GROUP BY dim
)
SELECT dim, bucket, c_old, c_new,
       greatest(1, ((c_old + 1) * 10000) // (t_old + n_buckets)) AS p_old_pmy,
       greatest(1, ((c_new + 1) * 10000) // (t_new + n_buckets)) AS p_new_pmy,
       round(((greatest(1, ((c_new + 1) * 10000) // (t_new + n_buckets))
               - greatest(1, ((c_old + 1) * 10000) // (t_old + n_buckets)))
              / 10000.0)
             * ln(greatest(1, ((c_new + 1) * 10000) // (t_new + n_buckets))
                  / (greatest(1, ((c_old + 1) * 10000) // (t_old + n_buckets))
                     * 1.0)),
             6) AS psi_term
FROM counts JOIN totals USING (dim)
"""


# ---------------------------------------------------------------------------
# Z-order layout locality report — the `OPTIMIZE ... ZORDER BY (source,
# length)` planning query. Interleaving the bits of two clustering
# dimensions (8-bit md5 index of `source`, log2 token-length bin) gives a
# 16-bit Morton key; range-bucketing docs by that key yields data files
# where each file touches FEW distinct (source, length) combinations, so
# predicate-pruned scans skip most files. The report compares the z-order
# assignment against the natural doc_id order file-by-file: n_docs,
# distinct sources, distinct length bins per file — the numbers that
# decide whether a 100 TB rewrite pays for itself.
#
# Exactness: the Morton interleave is pure integer bit arithmetic
# (identical << >> & semantics in Spark and DuckDB); file assignment is
# (key * N_FILES) div (key_space) — exact integer range bucketing, no
# percentile estimation. One scan per layout arm, both arms one tiny
# groupBy over N_FILES keys; text never shuffles.
# ---------------------------------------------------------------------------

ZORDER_FILES = 16


def _morton16(a: str, b: str, shift: str, band: str) -> str:
    """Interleave 8 bits of `a` (odd positions) and `b` (even): dialect-
    portable via the given shift/and operator spellings."""
    terms = []
    for i in range(8):
        terms.append(f"((({a} {shift} {i}) {band} 1) * {1 << (2 * i + 1)})")
        terms.append(f"((({b} {shift} {i}) {band} 1) * {1 << (2 * i)})")
    return "(" + " + ".join(terms) + ")"


def zorder_locality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(source), 1, 2), 16, 10) AS BIGINT)"
        " AS src_idx",
        f"CAST(floor(log2(greatest(size({TOKENS}), 1))) AS BIGINT)"
        " AS len_bin",
        "source",
    )
    z = base.selectExpr(
        "doc_id",
        "source",
        "len_bin",
        f"{_morton16('src_idx', 'len_bin', '>>', '&')} AS zkey",
    )
    maxid = z.agg(F.max("doc_id").alias("max_id"))
    files = z.crossJoin(F.broadcast(maxid)).selectExpr(
        "source",
        "len_bin",
        f"(zkey * {ZORDER_FILES}) div 65536 AS z_file",
        f"least({ZORDER_FILES - 1}L,"
        f" (doc_id * {ZORDER_FILES}) div (max_id + 1)) AS natural_file",
    )
    longd = files.selectExpr(
        "source",
        "len_bin",
        "inline(array(named_struct('layout', 'zorder', 'file_id', z_file),"
        " named_struct('layout', 'natural', 'file_id', natural_file)))",
    )
    return longd.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("len_bin").alias("n_len_bins"),
    )


_Z_DUCK = _morton16("src_idx", "len_bin", ">>", "&")

ZORDER_LOCALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(source), 1, 2))::UBIGINT AS BIGINT)
           AS src_idx,
         CAST(floor(log2(greatest(len({TOKENS_DUCK}), 1))) AS BIGINT)
           AS len_bin
  FROM documents
),
z AS (
  SELECT doc_id, source, len_bin, {_Z_DUCK} AS zkey FROM base
),
maxid AS (SELECT max(doc_id) AS max_id FROM z),
files AS (
  SELECT source, len_bin,
         (zkey * {ZORDER_FILES}) // 65536 AS z_file,
         least({ZORDER_FILES - 1},
               (doc_id * {ZORDER_FILES}) // (max_id + 1)) AS natural_file
  FROM z, maxid
),
longd AS (
  SELECT source, len_bin, 'zorder' AS layout, z_file AS file_id FROM files
  UNION ALL
  SELECT source, len_bin, 'natural', natural_file FROM files
)
SELECT layout, file_id,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       count(DISTINCT len_bin) AS n_len_bins
FROM longd
GROUP BY 1, 2
"""


QUERIES = {
    "corpus_prep_pipeline": corpus_prep_pipeline,
    "snapshot_drift_psi": snapshot_drift_psi,
    "zorder_locality_report": zorder_locality_report,
    "corpus_snapshot_diff": corpus_snapshot_diff,
    "corpus_increment_pipeline": corpus_increment_pipeline,
    "corpus_datacard": corpus_datacard,
    "corpus_shard_manifest": corpus_shard_manifest,
}
ORACLE = {
    "corpus_prep_pipeline": CORPUS_PREP_SQL,
    "snapshot_drift_psi": SNAPSHOT_DRIFT_SQL,
    "zorder_locality_report": ZORDER_LOCALITY_SQL,
    "corpus_snapshot_diff": SNAPSHOT_DIFF_SQL,
    "corpus_increment_pipeline": CORPUS_INCREMENT_SQL,
    "corpus_datacard": CORPUS_DATACARD_SQL,
    "corpus_shard_manifest": SHARD_MANIFEST_SQL,
}
