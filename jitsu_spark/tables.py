"""Catalog of the driver-provided parquet tables (TESTDATA.md).

At 100 TB these would be partitioned/clustered external tables; the loader
keeps the access path identical (spark.read.parquet) so filters and column
pruning push down to the scan either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always broadcast in joins.
DIM_TABLES = {"region", "nation", "supplier", "part", "customer"}


# DuckDB-side expression matching the Spark-side ns->us truncation below.
EVENTS_TS_US_SQL = "make_timestamp(epoch_ns(ts) // 1000)"


# Session-scoped catalog of resolved table DataFrames. Re-reading the
# same parquet path re-lists files and re-reads footers for schema
# inference on every call — pure driver-side metadata work (~80-110 ms
# per table, measured r12) that a production engine pays ONCE at table
# registration. The memo holds only the lazy plan (path + schema), never
# data: every action still scans parquet, so bench/oracle runs compute
# from the inputs each time. Keyed by session id + path + an mtime/size
# freshness token so a rewritten fixture (tests build tables in tmp
# dirs) is never served a stale file listing.
_TABLE_CACHE: dict[tuple, DataFrame] = {}
_TABLE_CACHE_CAP = 256


def _freshness_token(path: str) -> tuple:
    import os

    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (None, None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (
        id(spark),
        spark.sparkContext.applicationId,
        path,
        _freshness_token(path),
    )
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    if len(_TABLE_CACHE) >= _TABLE_CACHE_CAP:
        _TABLE_CACHE.clear()
    _TABLE_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    if name == "events":
        # Depending on the testdata generation, events.ts arrives as
        # parquet TIMESTAMP(NANOS) (round-2 data; Spark has no ns type, so
        # read as long and truncate to us) or TIMESTAMP(MICROS) NTZ
        # (round-3 data). Either way normalize to the classic TIMESTAMP
        # the operator layer is written against (unix_micros & co. reject
        # NTZ); the NTZ -> LTZ cast + collect round-trips the same
        # wall-clock values under any session timezone, matching the
        # naive DuckDB oracle. Oracle SQL mirrors the ns truncation with
        # EVENTS_TS_US_SQL when ts appears raw in the output (a no-op
        # identity on us-precision data).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    # Other tables keep their native types: TPC-H date columns read as
    # TIMESTAMP_NTZ compare fine against literals, and leaving the column
    # unwrapped keeps range filters pushable into the parquet scan (a
    # cast-wrapped column defeats PushedFilters).
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() sees the same
    names the DuckDB oracle does."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
