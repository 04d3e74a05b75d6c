"""Training-batch assembly operators: sequence packing and a
leakage-safe train/test split.

Both are standard LLM-corpus-prep steps the reference has no analogue
for (training-data extension family, like operators/sampling):

- `sequence_pack_bins`: assign documents to fixed-token-budget bins
  (sample packing). Deterministic greedy stream packing: within each
  source, documents pack in doc_id order and a document whose tokens
  straddle the boundary closes the bin (bins may overflow by at most
  their final document — document atomicity, the standard packing
  contract). Pure window arithmetic: one shuffle on source, no UDFs,
  stable under any input partitioning.

- `leakage_safe_split`: the 90/5/5 split of operators.sampling, but
  near-duplicate documents NEVER straddle splits — each LSH near-dup
  cluster is assigned as a unit (split keyed on the cluster id, falling
  back to the doc id for singletons). This closes the classic
  contamination hole where a test document's near-duplicate sits in
  train.

Scale: packing's window partitions by source — at extreme skew (one
source = most of the corpus) production sub-partitions by a
deterministic doc_id range per source and offsets bin ids; the split
reuses near_dup_clusters (bucketed LSH + label propagation) and a
broadcast join of the (small) cluster map onto the corpus, so the
corpus never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .dedup import NEAR_DUP_CLUSTERS_SQL, near_dup_clusters
from .sampling import _bucket, _bucket_duck
from .text_ops import TOKENS, TOKENS_DUCK

PACK_BUDGET_TOKENS = 512  # bin capacity; model context length in production


def sequence_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, bin_id): greedy budget packing per
    source in doc_id order — bin_id = floor(tokens-before-this-doc /
    budget)."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        "OVER (PARTITION BY source ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return docs.selectExpr(
        "doc_id",
        "source",
        f"size({TOKENS}) AS n_tokens",
        f"CAST(floor(coalesce(sum(size({TOKENS})) {w}, 0)"
        f" / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin_id",
    )


SEQUENCE_PACK_SQL = f"""
SELECT doc_id, source,
       len({TOKENS_DUCK}) AS n_tokens,
       CAST(floor(coalesce(sum(len({TOKENS_DUCK})) OVER (
         PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin_id
FROM documents
"""


def tokenize_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data assembly: count tokens under the TRAINED
    merges table (`bpe`), then pack the real token counts into budget
    bins — `sequence_pack_bins` with the tokenizer the training run will
    actually use instead of the whitespace proxy (the counts differ, so
    bin boundaries differ; budgeting on the proxy over/under-fills
    context windows).

    Fully oracle-checked end to end: the fixture merges compile to the
    same replace-chain expression in both engines, and the packing
    window is shared SQL. With a production-sized merges table the count
    stage swaps to `bpe.bpe_token_count_pandas` (broadcast ranks +
    mapInPandas) and the window is unchanged — same single shuffle on
    source either way, everything before it map-side."""
    from ..plans.scan import fan_out_scan
    from .bpe import FIXTURE_MERGES, _SYM, _WB, _count_char, bpe_symbol_chain

    # The BPE replace-chain is the expensive part and it sits directly
    # on the scan: a single-row-group input runs it in ONE task (guide
    # §2.5). Fan the narrow projection out first (no-op on well-split
    # inputs); the packing window's hash(source) exchange then moves
    # only the skinny counted rows.
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
    )
    sym = bpe_symbol_chain(F.col("text"), FIXTURE_MERGES).alias("s")
    counted = docs.select("doc_id", "source", sym).selectExpr(
        "doc_id",
        "source",
        f"CAST({_count_char('s', _SYM)} - {_count_char('s', _WB)} - 1"
        " AS BIGINT) AS n_tokens",
    )
    w = (
        "OVER (PARTITION BY source ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return counted.selectExpr(
        "doc_id",
        "source",
        "n_tokens",
        f"CAST(floor(coalesce(sum(n_tokens) {w}, 0)"
        f" / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin_id",
    )


def _tokenize_pack_sql() -> str:
    from .bpe import _COUNT_DUCK, _chain_duck

    return f"""
WITH chained AS (
  SELECT doc_id, source, {_chain_duck()} AS s FROM documents
),
counted AS (
  SELECT doc_id, source, CAST({_COUNT_DUCK} AS BIGINT) AS n_tokens
  FROM chained
)
SELECT doc_id, source, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER (
         PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / {PACK_BUDGET_TOKENS}) AS BIGINT) AS bin_id
FROM counted
"""


def leakage_safe_split(
    spark: SparkSession, sf_dir: str, clusters: DataFrame | None = None
) -> DataFrame:
    """(doc_id, source, split): 90/5/5 assignment where every near-dup
    cluster lands in ONE split (keyed by cluster id; singletons by their
    own doc id).

    Pass `clusters` (from `dedup.load_cluster_map`) to reuse a
    materialized map instead of recomputing the shingle/LSH pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    if clusters is None:
        clusters = near_dup_clusters(spark, sf_dir)
    clusters = clusters.select("doc_id", "cluster_id")

    keyed = docs.join(clusters, "doc_id", "left").withColumn(
        "split_key", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    b = _bucket(F.col("split_key"))
    return keyed.select(
        "doc_id",
        "source",
        F.when(b < 900, "train")
        .when(b < 950, "val")
        .otherwise("test")
        .alias("split"),
    )


LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH clusters AS ({NEAR_DUP_CLUSTERS_SQL})
SELECT d.doc_id, d.source,
       CASE WHEN {_bucket_duck("coalesce(c.cluster_id, d.doc_id)")} < 900 THEN 'train'
            WHEN {_bucket_duck("coalesce(c.cluster_id, d.doc_id)")} < 950 THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN clusters c USING (doc_id)
"""


QUERIES = {
    "sequence_pack_bins": sequence_pack_bins,
    "leakage_safe_split": leakage_safe_split,
    "tokenize_pack_pipeline": tokenize_pack_pipeline,
}

ORACLE = {
    "sequence_pack_bins": SEQUENCE_PACK_SQL,
    "leakage_safe_split": LEAKAGE_SAFE_SPLIT_SQL,
    "tokenize_pack_pipeline": _tokenize_pack_sql(),
}
