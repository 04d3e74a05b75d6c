"""Streaming audience cardinality via mergeable HLL sketches — the
live twin of `operators.reports.audience_overlap_sketch`.

Reference shape: the console's metrics rollups maintain
`uniqState(messageId)` in ClickHouse materialized views and merge on
read (`webapps/console/prisma/metrics.sql:71-110`); this module is the
same state/merge split for audience (distinct-user) counting, kept in
a parquet SKETCH STORE instead of a ClickHouse table.

Each micro-batch appends one DataSketches HLL row per event type
(bytes, 2^lgk registers max); readers merge with `hll_union_agg` and
estimate. Two properties make this the right 100 TB shape:

- **constant state**: the store grows by |types| rows per batch
  regardless of batch size, and a reader's merge is a tiny aggregate
  over sketch bytes — the raw (type, user) universe is never
  re-shuffled to answer "how many distinct users has type X seen".
- **replay-idempotent**: HLL registers are per-bucket MAXIMA, so a
  replayed batch appends a sketch of the same user set and the merged
  union is unchanged — at-least-once delivery gives exactly-once
  estimates with NO dedup bookkeeping (the HLL analog of the bloom
  summary's bit_or idempotence in `operators/bloom.py`, and of the
  MERGE-idempotence contract in `sinks.py`).

Periodic compaction is the same story as the fingerprint store's
`compact()`: union each type's rows into one and rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.reports import HLL_LGK


def process_audience_batch(
    batch: DataFrame, sketch_store_dir: str, lgk: int = HLL_LGK
) -> None:
    """foreachBatch body: append one (event_type, sk) sketch row per
    type seen in this micro-batch."""
    (
        batch.groupBy("event_type")
        .agg(
            F.hll_sketch_agg(
                F.col("user_id").cast("string"), F.lit(lgk)
            ).alias("sk")
        )
        .write.mode("append")
        .parquet(sketch_store_dir)
    )


def read_audience_estimates(
    spark: SparkSession, sketch_store_dir: str
) -> DataFrame:
    """(event_type, est_users): the merged estimate across every batch
    appended so far."""
    raw = spark.read.parquet(sketch_store_dir)
    return raw.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )


def compact_audience_store(
    spark: SparkSession, sketch_store_dir: str
) -> None:
    """Union each type's sketch rows into one row and rewrite — bounded
    store size between compactions, unchanged estimates."""
    merged = (
        spark.read.parquet(sketch_store_dir)
        .groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .localCheckpoint()  # pin before the overwrite reads-what-it-writes
    )
    merged.write.mode("overwrite").parquet(sketch_store_dir)
