"""Scan fan-out for unsplittable-input skew (optimization guide §2.5).

A parquet file with a single row group yields ONE scan task no matter
what `spark.sql.files.maxPartitionBytes` says, so every expression in
the stage above it (regex tokenization, JSON extraction, shingle
explosion, hashing) runs on one core while the rest of the cluster
idles — the classic "one huge unsplittable file" input-skew case. The
fix is the guide's: repartition immediately after the read, but ONLY
when the scan actually under-parallelizes; at production scale the same
table arrives as thousands of splits and the helper is a no-op, so no
gratuitous full-data shuffle is ever added.

Apply this to scans feeding heavy per-row compute, not to plain
scan->aggregate paths whose partial aggregation is already cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Partition-count probes memoized on the freshness-aware plan
# fingerprint (r12, same discipline as pq._art_memo / the query-vocab
# memo): the probe itself is driver-side physical planning (~30-90 ms
# of py4j + RDD conversion per call, paid at every query construction
# across ~19 call sites), while the count is fully determined by the
# logical plan, the input files and session confs. The fingerprint's
# mtime/size tokens invalidate the memo the moment an input file is
# rewritten; fingerprint-less plans (local relations mid-stream) are
# probed live every time.
_NPART_MEMO: dict[tuple, int] = {}
_NPART_MEMO_CAP = 512


def _conf_token(df: DataFrame) -> tuple:
    """Session confs that determine a scan's partition count (r13,
    ADVICE r12 #1: the plan fingerprint alone misses them — a mid-
    process conf change or a second session over the same files must
    not be served a stale count)."""
    conf = df.sparkSession.conf

    def _get(key: str) -> str:
        # typed confs validate even the DEFAULT argument, so unset keys
        # must be probed under try (minPartitionNum has no default)
        try:
            return str(conf.get(key))
        except Exception:
            return ""

    return (
        _get("spark.sql.files.maxPartitionBytes"),
        _get("spark.sql.files.openCostInBytes"),
        _get("spark.sql.files.minPartitionNum"),
        _get("spark.sql.shuffle.partitions"),
        df.sparkSession.sparkContext.defaultParallelism,
    )


def _num_partitions(df: DataFrame) -> int | None:
    from .store_memo import plan_fingerprint

    key = plan_fingerprint(df)
    if key is not None:
        key = key + (_conf_token(df),)
    if key is not None:
        hit = _NPART_MEMO.get(key)
        if hit is not None:
            return hit
    try:
        # queryExecution().toRdd() skips the Python-pickler RDD wrapper
        # df.rdd builds (measured ~30 ms vs ~60-90 ms); no job runs.
        n = int(df._jdf.queryExecution().toRdd().getNumPartitions())
    except Exception:
        return None
    if key is not None:
        if len(_NPART_MEMO) >= _NPART_MEMO_CAP:
            _NPART_MEMO.clear()
        _NPART_MEMO[key] = n
    return n


def fan_out_scan(df: DataFrame, min_fill: float = 0.5) -> DataFrame:
    """Round-robin repartition `df` to the cluster's default parallelism
    when its current plan yields fewer than `min_fill` * parallelism
    partitions; otherwise return it unchanged.

    The partition probe reads the physical plan only (no job). Safe for
    keyed aggregations/joins above it (results are partitioning-
    independent); do NOT use under order- or partition-sensitive
    operators (collect_list order, monotonically_increasing_id,
    input_file_name).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    current = _num_partitions(df)
    if current is None:
        return df
    if current >= max(1, int(target * min_fill)):
        return df
    return df.repartition(target)
