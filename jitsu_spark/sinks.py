"""Warehouse sink semantics — the bulker contract re-expressed on Spark.

Reference (external Go service `jitsucom/bulker`, invoked from
`libs/core-functions/src/functions/bulker-destination.ts:364-380`; options at
`webapps/console/lib/schema/destinations.tsx:134-147`):

- modes `batch` / `stream` (S4): micro-batch cadence vs per-event — here both
  are `foreachBatch` writes, differing only in trigger interval.
- dedup: `deduplicate: true` upserts on `primaryKey` (default `message_id`)
  within `deduplicateWindow` (default 31 days) of `timestampColumn`.
- schema evolution: new columns extend the table DDL unless `schemaFreeze`
  (`destinations.tsx:144`) — mapped to parquet `mergeSchema` on read and
  `allowMissingColumns` union on write.
- multi-table routing: the layout emits a `_table` column
  (`bulker-destination.ts:340-385`); one physical table per value.

Scale design: tables are laid out as parquet partitioned by `_p_date`
(UTC date of the event timestamp). An upsert is one pass: it lists the
date partitions within the dedup window of the batch from disk, reads
only those, deduplicates existing ∪ batch once and writes that plan
uncached with dynamic partition overwrite, so only the touched
partitions are rewritten and AQE sizes the write (one file per touched
date at micro-batch size). A second listing finds the read partitions
the merge emptied. On a lakehouse table format this same operation is a
`MERGE INTO` whose file pruning does the equivalent partition-level
rewrite; the API here is format-agnostic so swapping the physical layer
does not change callers.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_PRIMARY_KEY = ["message_id"]  # destinations.tsx:137
DEFAULT_DEDUP_WINDOW_DAYS = 31  # destinations.tsx:139
PARTITION_COL = "_p_date"
# destination table for rows whose routing column is NULL (e.g. a track
# without an event name fanned out by the segment layout): quarantined,
# never silently dropped, never a crash
UNROUTABLE_TABLE = "_unroutable"
# directory value Spark writes for a null partition value
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class WarehouseSink:
    """A directory-backed warehouse: one sub-directory per table."""

    def __init__(self, spark: SparkSession, base_dir: str, schema_freeze: bool = False):
        self.spark = spark
        self.base_dir = base_dir
        self.schema_freeze = schema_freeze

    def _path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def exists(self, table: str) -> bool:
        p = self._path(table)
        return os.path.isdir(p) and any(
            f.startswith(PARTITION_COL) or f.endswith(".parquet")
            for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        # mergeSchema=True is the read-side half of schema evolution: older
        # files simply lack the newer columns (null-filled).
        return self.spark.read.option(
            "mergeSchema", str(not self.schema_freeze).lower()
        ).parquet(self._path(table))

    # -- append (deduplicate: false) -----------------------------------

    def append(self, df: DataFrame, table: str, timestamp_col: str = "ts") -> None:
        df = self._conform(df, table, timestamp_col)
        df.write.mode("append").partitionBy(PARTITION_COL).parquet(self._path(table))

    # -- replace (full_refresh sync mode) ------------------------------

    def replace(self, df: DataFrame, table: str, timestamp_col: str = "ts") -> None:
        """Swap the table's entire contents — the Airbyte full_refresh
        contract (a sync replaces the table; contrast with upsert's
        incremental MERGE)."""
        df = self._conform(df, table, timestamp_col)
        df.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(
            self._path(table)
        )

    # -- upsert (deduplicate: true) ------------------------------------

    def upsert(
        self,
        df: DataFrame,
        table: str,
        primary_key: list[str] | None = None,
        timestamp_col: str = "ts",
        dedup_window_days: int = DEFAULT_DEDUP_WINDOW_DAYS,
        *,
        _batch_dates: set | None = None,
    ) -> None:
        """MERGE-by-primary-key within the dedup window.

        Newer rows win (max_by on the timestamp column); rows already in
        the table outside the touched date partitions are untouched on
        disk. This is the idempotence that turns at-least-once delivery
        into exactly-once results (SURVEY §2.10 W1).

        `_batch_dates` is the batch's `_p_date` set when the caller has
        already collected it (`write_routed` does, for every table at
        once); a standalone call collects it here.
        """
        pk = primary_key or DEFAULT_PRIMARY_KEY
        df = self._conform(df, table, timestamp_col)
        path = self._path(table)
        before: dict[str, set[str]] = {}
        if self.exists(table):
            if _batch_dates is None:
                _batch_dates = {
                    r[0] for r in df.select(PARTITION_COL).distinct().collect()
                }
            # Only date partitions within the dedup window of the batch's
            # own span can hold a conflicting primary key. The window
            # extends BOTH directions: backward for the usual newer-batch-
            # vs-older-row merge, and forward because an out-of-order
            # redelivery dated BEFORE an existing same-key row must still
            # find it (round-9 spine review finding #2;
            # `sinks_cloud.merge_window_bounds` mirrors the same bounds).
            # The null partition (null event timestamps) is always read.
            dates = [d for d in _batch_dates if d is not None]
            window = dt.timedelta(days=dedup_window_days)
            lo, hi = (min(dates) - window, max(dates) + window) if dates else (None, None)
            pred = F.col(PARTITION_COL).isNull()
            if dates:
                pred = pred | F.col(PARTITION_COL).between(F.lit(lo), F.lit(hi))
            # The same partitions and their part files, listed from disk
            # (this local/posix layout; an HDFS deployment lists them
            # through FileSystem). A date partition is named by its ISO
            # date, which orders as a string.
            for name in os.listdir(path):
                col, _, value = name.partition("=")
                if col == PARTITION_COL and (
                    value == NULL_PARTITION or (dates and str(lo) <= value <= str(hi))
                ):
                    before[name] = set(os.listdir(os.path.join(path, name)))
        if before:
            df = self.read(table).where(pred).unionByName(
                df, allowMissingColumns=not self.schema_freeze
            )
        # One dedup over existing ∪ batch, written uncached straight to the
        # table: its scan runs inside the write job, before the commit
        # swaps the partitions, and AQE sizes the shuffle (one task and one
        # file per touched date at micro-batch size). Dynamic overwrite
        # replaces exactly the date partitions the merge produced; with
        # nothing read it only adds the batch's new partitions.
        (
            _latest_per_key(df, pk, timestamp_col)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PARTITION_COL)
            .parquet(path)
        )
        # A key whose NEWER row lands in a different date partition leaves
        # its old partition without any surviving row, and dynamic
        # overwrite never touches a partition absent from the merge, so the
        # stale duplicate would survive on disk (round-4 twin finding: the
        # warehouse MERGE updates in place, the parquet path must match).
        # A rewritten partition holds new part files; a read partition
        # whose file list did not change was emptied by the merge.
        for name, files in before.items():
            part = os.path.join(path, name)
            if set(os.listdir(part)) == files:
                shutil.rmtree(part, ignore_errors=True)
        # overwrite + deletion invalidate any cached file listing for
        # this table path — refresh so subsequent reads in the same
        # session never chase replaced part files
        self.spark.catalog.refreshByPath(path)

    # -- multi-table routing (bulker-destination.ts:340-385) -----------

    def write_routed(
        self,
        df: DataFrame,
        table_col: str = "_table",
        deduplicate: bool = True,
        primary_key: list[str] | None = None,
        timestamp_col: str = "ts",
    ) -> list[str]:
        """Route one layouted batch into its per-table destinations.

        One distinct (table, date) collect over the cached routed batch
        gives both the table list (bounded by event-name cardinality) and
        each table's date set for its MERGE window; per-table writes
        reuse the cache, so the source is scanned once.
        """
        df = df.withColumn(PARTITION_COL, F.to_date(F.col(timestamp_col))).cache()
        try:
            dates: dict[str | None, set] = {}
            for t, d in df.select(table_col, PARTITION_COL).distinct().collect():
                dates.setdefault(t, set()).add(d)
            tables = []
            # a null routing value is unroutable, not a crash (round-9
            # spine review finding #7): its rows go to the quarantine
            # table, so nothing is silently lost and the batch completes.
            for t in dates:
                part = df.where(F.col(table_col).eqNullSafe(t)).drop(table_col)
                name = UNROUTABLE_TABLE if t is None else t
                if deduplicate:
                    self.upsert(part, name, primary_key, timestamp_col, _batch_dates=dates[t])
                else:
                    self.append(part, name, timestamp_col)
                tables.append(name)
            return tables
        finally:
            df.unpersist()

    def compact(self, table: str, target_files_per_partition: int = 1) -> None:
        """Small-file compaction: streaming appends leave one file per
        micro-batch per partition; periodic compaction rewrites each date
        partition down to `target_files_per_partition` files. The lakehouse
        OPTIMIZE analogue — read amplification on a 100 TB table is driven
        by file count as much as bytes."""
        # repartition(N, _p_date) hashes by date alone, sending EVERY row
        # of a date to one task — always exactly 1 file per partition,
        # making the parameter a no-op for values > 1 (round-9 spine
        # review finding #10). A deterministic per-row salt bounded by
        # the target splits each date into at most `target` tasks/files.
        df = self.read(table)
        n_dates = max(df.select(PARTITION_COL).distinct().count(), 1)
        salt = F.pmod(
            F.hash(*[F.col(c) for c in df.columns if c != PARTITION_COL]),
            F.lit(target_files_per_partition),
        ).alias("_salt")
        # range partitioning on (date, salt): each date spans ~target
        # contiguous ranges, so every date yields ~target files. A plain
        # hash repartition by the pair gets coalesced back to one task
        # by AQE when the data is small, silently re-creating the 1-file
        # behavior the salt exists to avoid.
        df = (
            df.withColumn("_salt", salt)
            .repartitionByRange(
                n_dates * target_files_per_partition,
                F.col(PARTITION_COL),
                F.col("_salt"),
            )
            .drop("_salt")
        )
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PARTITION_COL)
            .parquet(self._path(table))
        )

    def _conform(self, df: DataFrame, table: str, timestamp_col: str) -> DataFrame:
        df = df.withColumn(PARTITION_COL, F.to_date(F.col(timestamp_col)))
        if self.schema_freeze and self.exists(table):
            # schemaFreeze: incoming columns unknown to the table are
            # dropped instead of extending the schema.
            known = set(self.read(table).columns)
            df = df.select(*[c for c in df.columns if c in known])
        return df


def _latest_per_key(df: DataFrame, pk: list[str], timestamp_col: str) -> DataFrame:
    """One row per primary key, newest timestamp wins.

    max_by over a struct of all columns is a partial-agg friendly
    aggregate with a single shuffle on the key, not a window over the
    sorted partition. Its struct buffer is not fixed-width, so Spark
    plans it as a SortAggregate (a Sort on each side of the shuffle),
    not a hash aggregate.
    """
    others = [c for c in df.columns if c not in pk]
    # DataFrame API, not an interpolated SQL string: a column named with
    # a hyphen/space/reserved word (keep_original_names layouts, Airbyte
    # fields, arbitrary flattened properties) would otherwise parse as
    # arithmetic or fail (round-9 spine review finding #8)
    # max_by SKIPS rows whose ordering key is null — a key whose rows
    # all carry a null timestamp would come back as a null struct,
    # wiping every non-pk column. Floor null timestamps so those rows
    # still win deterministically against nothing and lose against any
    # real timestamp.
    order_key = F.coalesce(
        F.col(timestamp_col),
        F.lit("1900-01-01 00:00:00").cast("timestamp"),
    )
    packed = df.groupBy(*pk).agg(
        F.max_by(
            F.struct(*[F.col(c).alias(c) for c in others]),
            order_key,
        ).alias("_row")
    )
    return packed.select(
        *pk, *[F.col("_row").getField(c).alias(c) for c in others]
    )
