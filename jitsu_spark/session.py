"""SparkSession factory tuned for this engine.

Scale stance: these configs are written for a real cluster (AQE on, skew-join
handling, partial aggregation) and merely *tested* on local[N]. Nothing here
assumes single-node execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "jitsu-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE enabled: runtime shuffle-partition coalescing + skew-join splitting
      replace hand-tuned partition counts, which is what survives a 100x
      scale-up.
    - Arrow enabled: every pandas UDF / applyInPandas crosses the JVM<->Python
      boundary in columnar batches, never row-at-a-time pickling.
    - Broadcast threshold left at default (10 MB); dimension tables (region,
      nation, supplier, config tables) broadcast automatically. Only sides
      bounded by construction (one-row scalars, query sets, config tables)
      carry an explicit `F.broadcast`; every other join follows this conf.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4") or "4")
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite sort-merge joins to shuffled-hash at runtime
        # when every post-shuffle partition's build side is measured
        # under 64 MB (guide §3.1) — off by default upstream (0). The
        # gate is runtime-MEASURED sizes, so it is scale-safe by
        # construction: partitions above the bound keep the sort-merge
        # plan, and 64 MB per-task hash tables fit comfortably in any
        # sane executor sizing. Measured on the banded self-join family:
        # containment_dup_pairs 0.48x, ngram_jaccard_dups 0.60x,
        # minhash_lsh_pairs 0.88x (the two per-side sorts drop out).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures the user call site (a Python stack walk plus
        # a JVM round-trip) on EVERY DataFrame API call to enrich error
        # messages. Across this engine's expression-heavy plan builders
        # that is ~16% of all driver-side construction time (measured:
        # 30.4s -> 25.5s warm construction over the 198-entry registry).
        # Plans and results are unchanged; only error messages lose the
        # user-code line pointer, which stack traces still carry.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
