"""Deterministic sampling for training-data pipelines.

Both operators hash a stable key (md5, identical bits on Spark and the
DuckDB oracle) instead of using RNG state, so a sample is (a) reproducible
run-to-run, (b) consistent across engines, and (c) stable under
repartitioning — the properties a 100 TB corpus pipeline needs so that
re-running a stage never silently changes the training set.

Scale notes:
- The bucket expression is pure column arithmetic on the scan -> evaluated
  inside whole-stage codegen, no shuffle, no UDF. Sampling 100 TB is a
  single filtered pass.
- Per-stratum rates join against a tiny literal dim -> broadcast; the
  corpus side never shuffles.
- This is the deterministic counterpart of `df.sampleBy` (whose Bernoulli
  draw depends on partition-internal RNG order and is NOT stable under
  repartitioning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

# 0..999 bucket from the first 7 hex digits of md5 of the key. 7 hex
# digits = 28 bits, exact in int64 on both engines.
def _bucket(key: Column) -> Column:
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 7), 16, 10)
        .cast("long")
        % 1000
    )


def _bucket_duck(expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 7))::UBIGINT"
        " AS BIGINT) % 1000"
    )


# Per-source keep rates: sources cycle through 20%/40%/60%/80% — the
# "downweight low-quality crawls, keep curated sources" shape.
STRATA_RATES = {f"src{i}": (i % 4 + 1) * 0.2 for i in range(20)}


def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of `documents` by source.

    A doc survives iff its md5 bucket falls under its source's rate —
    independent of partitioning, ordering, and engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [(s, int(r * 1000 + 0.5)) for s, r in STRATA_RATES.items()],
        "source string, keep_per_mille int",
    )
    return (
        docs.join(rates, "source")
        .where(_bucket(F.col("doc_id")) < F.col("keep_per_mille"))
        .select("doc_id", "source", "lang", "n_chars")
    )


_RATE_VALUES = ", ".join(
    f"('{s}', {int(r * 1000 + 0.5)})" for s, r in STRATA_RATES.items()
)

STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, source, lang, n_chars
FROM documents
JOIN (VALUES {_RATE_VALUES}) AS rates(source, keep_per_mille) USING (source)
WHERE {_bucket_duck('doc_id')} < keep_per_mille
"""


def train_test_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment for `documents`.

    Same md5 bucket; split boundaries at 900 and 950. Every engine and
    every rerun assigns each doc to the same split — no leakage drift.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    return docs.select(
        "doc_id",
        "source",
        F.when(b < 900, "train")
        .when(b < 950, "val")
        .otherwise("test")
        .alias("split"),
    )


TRAIN_TEST_SPLIT_SQL = f"""
SELECT doc_id, source,
       CASE WHEN {_bucket_duck('doc_id')} < 900 THEN 'train'
            WHEN {_bucket_duck('doc_id')} < 950 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


# Per-source mixing rates including UPsampling: sources cycle through
# 0.5x / 1.0x / 1.5x / 2.5x — the temperature-style reweighting a training
# mix applies (repeat curated sources, thin crawls).
MIX_RATES = {f"src{i}": (0.5, 1.0, 1.5, 2.5)[i % 4] for i in range(20)}


def source_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mix resampling with repetition: each doc is
    emitted floor(rate) times, plus once more iff its md5 bucket falls
    under the fractional part — so expected copies == rate exactly, and
    the output is stable under repartitioning and engines (no RNG).

    The repeat is a `sequence` explode on the scan (map-side, output
    linear in the target mix size); `epoch` column distinguishes copies so
    downstream shuffles spread repeated docs instead of hot-spotting."""
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [
            (s, int(r), int(round((r - int(r)) * 1000)))
            for s, r in MIX_RATES.items()
        ],
        "source string, whole int, frac_per_mille int",
    )
    return (
        docs.join(rates, "source")
        .withColumn(
            "n_copies",
            F.col("whole")
            + (_bucket(F.col("doc_id")) < F.col("frac_per_mille")).cast("int"),
        )
        .where(F.col("n_copies") > 0)
        .selectExpr(
            "doc_id",
            "source",
            "explode(sequence(1, n_copies)) AS epoch",
        )
    )


_MIX_VALUES = ", ".join(
    f"('{s}', {int(r)}, {int(round((r - int(r)) * 1000))})"
    for s, r in MIX_RATES.items()
)

SOURCE_MIX_SQL = f"""
WITH rated AS (
  SELECT doc_id, source,
         whole + CASE WHEN {_bucket_duck('doc_id')} < frac_per_mille
                      THEN 1 ELSE 0 END AS n_copies
  FROM documents
  JOIN (VALUES {_MIX_VALUES}) AS rates(source, whole, frac_per_mille)
    USING (source)
)
SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS epoch
FROM rated WHERE n_copies > 0
"""


def temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (alpha = 0.5): resample so each
    source's share of the corpus moves from its natural share p_s toward
    p_s^alpha / sum(p_t^alpha) — the multilingual/multi-source flattening
    every large training mix applies (upsample thin curated sources,
    downsample the dominant crawl). Unlike `source_mix_resample` (fixed
    per-source rates), the rates here are DERIVED FROM THE DATA.

    Shares are weighted by character mass (sum of n_chars per source), the
    proxy for token mass a mix is actually balanced on.

    Determinism across engines: alpha = 1/2 lets the weight be computed in
    EXACT integer arithmetic — masses are first quantized to a
    corpus-derived unit (unit = max(1, total_chars div 10^6), itself an
    exact integer, so quantized total mass is ~10^6 regardless of corpus
    size), then s_s = floor(sqrt(mu_s)) (IEEE sqrt is correctly rounded,
    so floor(sqrt(int)) is engine-exact) and the per-source copy rate in
    per-mille is the integer (s_s * MU * 1000) div (mu_s * T) with
    MU = sum(mu_s), T = sum(s_s). No float summation anywhere, so Spark
    and the DuckDB oracle agree bit-for-bit; the fractional copy is the
    usual md5-bucket draw. The unit quantization bounds every product:
    mu_s <= ~10^6, s_s <= ~10^3, so the numerator tops out near 10^12 —
    int64-safe at ANY corpus size (the unquantized form overflowed past
    ~44 GB of chars). Sub-unit sources clamp to mu_s = 1 (never dropped).

    Scale: two tiny aggregates (per-source mass: one partial-agg shuffle
    of 20 rows; totals: a 1-row reduce), broadcast back onto the scan;
    the corpus itself never shuffles and the explode is map-side — the
    same zero-corpus-shuffle shape as `source_mix_resample`.
    """
    docs = load_table(spark, sf_dir, "documents")
    masses = docs.groupBy("source").agg(F.sum("n_chars").alias("m_s"))
    unit = masses.select(
        F.expr("greatest(CAST(1 AS BIGINT), sum(m_s) DIV 1000000)").alias(
            "unit"
        )
    )
    masses = (
        masses.crossJoin(unit)
        .withColumn(
            "mu_s", F.expr("greatest(CAST(1 AS BIGINT), m_s DIV unit)")
        )
        .withColumn(
            "s_s", F.expr("CAST(floor(sqrt(CAST(mu_s AS DOUBLE))) AS BIGINT)")
        )
    )
    totals = masses.select(
        F.sum("mu_s").alias("mu_total"), F.sum("s_s").alias("s_total")
    )
    rates = masses.crossJoin(totals).selectExpr(
        "source",
        "(s_s * mu_total * 1000) DIV (mu_s * s_total) AS cpm",
    )
    return (
        docs.join(rates, "source")
        .withColumn(
            "n_copies",
            F.expr("cpm DIV 1000")
            + (_bucket(F.col("doc_id")) < F.expr("cpm % 1000")).cast("long"),
        )
        .where(F.col("n_copies") > 0)
        .selectExpr(
            "doc_id",
            "source",
            "explode(sequence(1, n_copies)) AS epoch",
        )
    )


TEMPERATURE_RESAMPLE_SQL = f"""
WITH raw_masses AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS m_s
  FROM documents GROUP BY 1
),
unit AS (
  SELECT greatest(CAST(1 AS BIGINT), CAST(sum(m_s) // 1000000 AS BIGINT))
           AS unit
  FROM raw_masses
),
masses AS (
  SELECT source,
         greatest(CAST(1 AS BIGINT), CAST(m_s // unit AS BIGINT)) AS mu_s,
         CAST(floor(sqrt(CAST(greatest(CAST(1 AS BIGINT),
                CAST(m_s // unit AS BIGINT)) AS DOUBLE))) AS BIGINT) AS s_s
  FROM raw_masses CROSS JOIN unit
),
totals AS (
  SELECT CAST(sum(mu_s) AS BIGINT) AS mu_total,
         CAST(sum(s_s) AS BIGINT) AS s_total
  FROM masses
),
rates AS (
  SELECT source, (s_s * mu_total * 1000) // (mu_s * s_total) AS cpm
  FROM masses CROSS JOIN totals
),
rated AS (
  SELECT doc_id, source,
         cpm // 1000 + CASE WHEN {_bucket_duck('doc_id')} < cpm % 1000
                            THEN 1 ELSE 0 END AS n_copies
  FROM documents JOIN rates USING (source)
)
SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS epoch
FROM rated WHERE n_copies > 0
"""


# ---------------------------------------------------------------------------
# Token-budget corpus selection (round 5): "fill each source's token
# budget" — the composition step of a fixed-size training mix ("30% web,
# 20% code, ... up to N tokens each"). Docs are taken per source in
# deterministic md5-bucket order (ties by doc_id) until the source's
# cumulative token count reaches its budget; every doc gets an audit row
# with its cumulative position and the verdict.
#
# The naive plan is a per-source window cumsum — a single task sorting a
# whole source (the quality_percentile_gate failure mode). Served form
# reuses the two-phase histogram pattern for a CUMULATIVE SUM: the
# per-(source, bucket) token totals are a compact table (<=1000 buckets
# per source regardless of N); cumulative bucket offsets + per-source
# totals compute there and broadcast back; the only corpus-side window
# is the within-bucket running sum, partitioned by (source, bucket).
# ---------------------------------------------------------------------------

# Each source's budget = this fraction (per-mille) of its own total
# tokens — data-derived, so the registry entry needs no config and the
# selection boundary lands mid-source (the interesting case).
BUDGET_PER_MILLE = 500


def _tb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (doc_id, source, n_tok, bucket) — the ONE scored frame both
    token-budget forms rank (shared so the window twin can never drift
    from the two-phase form's metric or bucket key)."""
    from .text_ops import TOKENS

    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "source",
        f"CAST(size({TOKENS}) AS BIGINT) AS n_tok",
    ).withColumn("bucket", _bucket(F.col("doc_id")))


def token_budget_over(
    scored: DataFrame, per_mille: int = BUDGET_PER_MILLE
) -> DataFrame:
    """Two-phase cumulative token budget over ANY frame carrying
    (doc_id, source, n_tok, bucket) — extra columns pass through (the
    composed incremental-corpus pipeline threads `origin`). Appends
    cum_before / budget_tok / selected and drops the bucket key.

    Scale shape: the per-(source, bucket) token histogram is a compact
    table (<=1000 buckets per source regardless of N); cumulative bucket
    offsets + per-source totals compute there and broadcast back, so the
    only corpus-side window is the within-bucket running sum."""
    from pyspark.sql import Window

    # (r13, tried and REVERTED: an explicit repartition(source, bucket)
    # shared by the histogram aggregate and the within-bucket window —
    # guide §2.4 "one exchange for two same-keyed consumers" — does NOT
    # deduplicate at runtime: column pruning pushes a narrower Project
    # below the histogram branch's copy of the exchange, the canonical
    # plans differ, and ReuseExchange/AQE stage reuse never fires
    # (verified executedPlan: 3 distinct ShuffleQueryStages, 0
    # ReusedExchange). The result is the corpus rows shuffled TWICE in
    # full, where this shape shuffles them once for the window plus a
    # partial-aggregated, bucket-count-bounded histogram exchange —
    # strictly fewer bytes at any scale.)
    hist = scored.groupBy("source", "bucket").agg(
        F.sum("n_tok").alias("btok")
    )
    offs = hist.selectExpr(
        "source AS o_source",
        "bucket AS o_bucket",
        "coalesce(sum(btok) OVER (PARTITION BY source ORDER BY bucket ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)"
        " AS bucket_before",
        "sum(btok) OVER (PARTITION BY source) AS total_tok",
    )
    wl = (
        Window.partitionBy("source", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = scored.withColumn(
        "within_before", F.coalesce(F.sum("n_tok").over(wl), F.lit(0))
    )
    return (
        ranked.join(
            offs,
            # null-safe on source: a NULL-source stratum is still a
            # stratum (the window twin and the oracle both keep it)
            F.col("source").eqNullSafe(F.col("o_source"))
            & (F.col("bucket") == F.col("o_bucket")),
        )
        .withColumn(
            "cum_before", F.expr("bucket_before + within_before")
        )
        .withColumn(
            "budget_tok", F.expr(f"(total_tok * {per_mille}) DIV 1000")
        )
        .withColumn("selected", F.expr("cum_before < budget_tok"))
        .drop(
            "o_source", "o_bucket", "bucket_before", "within_before",
            "total_tok", "bucket",
        )
    )


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_budget_over(_tb_scored(spark, sf_dir)).select(
        "doc_id", "source", "n_tok", "cum_before", "budget_tok", "selected"
    )


def token_budget_select_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-scale twin: the direct per-source window cumsum (one task
    sorts a whole source) — parity reference only."""
    from pyspark.sql import Window

    scored = _tb_scored(spark, sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy("bucket", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("source")
    return (
        scored.withColumn(
            "cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
        )
        .withColumn("total_tok", F.sum("n_tok").over(wt))
        .selectExpr(
            "doc_id",
            "source",
            "n_tok",
            "cum_before",
            f"(total_tok * {BUDGET_PER_MILLE}) DIV 1000 AS budget_tok",
            f"cum_before < (total_tok * {BUDGET_PER_MILLE}) DIV 1000"
            " AS selected",
        )
    )


def _token_budget_duck() -> str:
    from .text_ops import TOKENS_DUCK

    return f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tok,
         {_bucket_duck('doc_id')} AS bucket
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY source
           ORDER BY bucket ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         sum(n_tok) OVER (PARTITION BY source) AS total_tok
  FROM scored
)
SELECT doc_id, source, n_tok,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST((total_tok * {BUDGET_PER_MILLE}) // 1000 AS BIGINT) AS budget_tok,
       cum_before < (total_tok * {BUDGET_PER_MILLE}) // 1000 AS selected
FROM cum
"""


TOKEN_BUDGET_SQL = _token_budget_duck()


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169), round 7. Select raw-corpus documents that look like
# a target domain by importance weights over hashed n-gram features:
#
#   log w(x) = SUM over x's grams of [ln p_target(bucket) - ln p_raw(bucket)]
#
# with hashed unigram+bigram buckets, add-1 smoothing, and Gumbel-top-k
# resampling (rank by log w + Gumbel noise ~ sampling without replacement
# proportionally to w). The sum is the paper's importance weight (r8
# review fix: an earlier revision keyed on the per-gram MEAN — a
# length-normalized variant that is NOT arXiv:2302.03169's selection;
# the mean is still emitted as the `avg_log_ratio` diagnostic, but the
# resampling key is the paper's sum). Everything is derived deterministically: the
# feature hash and the Gumbel uniform both come from md5, so the selected
# set is reproducible run-to-run, engine-to-engine, and under
# repartitioning — the same determinism contract as the rest of this
# module.
#
# Scale: one gram explode; both LM tables are bucket-count tables bounded
# by DSIR_BUCKETS (broadcast, never corpus-sized); scoring is one
# broadcast join + per-doc avg; selection is the bounded value-histogram
# percent-rank (quality_percentile_gate's pattern) — no corpus-wide
# single-task sort anywhere.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"  # the "target domain" proxy in this corpus
DSIR_KEEP_PCT = 0.8  # keep the top ~20% by gumbel key

_DSIR_GRAMS = (
    "concat(toks, CASE WHEN size(toks) >= 2 THEN"
    " transform(sequence(0, size(toks) - 2),"
    " i -> concat(toks[i], ' ', toks[i+1]))"
    " ELSE array() END)"
)
_DSIR_GRAMS_DUCK = (
    "list_concat(toks, list_transform(range(1, len(toks)),"
    " i -> toks[i] || ' ' || toks[i+1]))"
)


def _dsir_bucket(col: str) -> str:
    return (
        f"CAST(conv(substring(md5({col}), 1, 7), 16, 10) AS BIGINT)"
        f" % {DSIR_BUCKETS}"
    )


def _dsir_bucket_duck(col: str) -> str:
    return (
        f"CAST(('0x' || substr(md5({col}), 1, 7))::UBIGINT AS BIGINT)"
        f" % {DSIR_BUCKETS}"
    )


# 20-bit md5 uniform in (0, 1) -> standard Gumbel. 5 hex digits = 20 bits,
# exact in both engines; +0.5 keeps u strictly inside (0, 1).
def _gumbel(col: str, conv_expr: str) -> str:
    return f"-ln(-ln(({conv_expr} + 0.5) / 1048576.0))"


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, sum_log_ratio, avg_log_ratio, gumbel_key,
    keep): DSIR importance weights of every document against the
    `lang = 'en'` target slice, with the Gumbel-resampled top-20%
    marked keep. The resampling key is the paper's summed log ratio
    (arXiv:2302.03169); `avg_log_ratio` is the length-normalized
    diagnostic."""
    from .text_ops import TOKENS

    # Hash the narrow doc projection by doc_id before tokenization
    # (r12, the _bm25_scored shape): the gram explode below is walked by
    # BOTH the LM-count branch and the scoring branch, and previously
    # ran inside the scan stage — one task when the input is a single
    # small file (guide §2.5). Partitioning by doc_id also makes the
    # per-doc score aggregate exchange-free. Explicit N: AQE would
    # coalesce the byte-small doc exchange and serialize the explosion.
    n_part = spark.sparkContext.defaultParallelism
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .repartition(n_part, "doc_id")
        .selectExpr("doc_id", "lang", f"{TOKENS} AS toks")
    )
    from ..plans.topk import persist_bounded

    # Persist the bucketed gram rows (r12): BOTH the LM-count branch and
    # the scoring branch walk this frame, and each walk re-ran the
    # tokenize + explode + per-gram md5 bucket hashing — the dominant
    # cost of the entry (guide §5: cache when reused and recompute is
    # expensive). Three narrow columns per gram; released by the shared
    # bounded-cache lifecycle.
    grams = persist_bounded(
        docs.selectExpr(
            "doc_id", "lang", f"explode({_DSIR_GRAMS}) AS gram"
        ).selectExpr("doc_id", "lang", f"{_dsir_bucket('gram')} AS b")
    )
    # BOTH LM tables + their totals from ONE gram pass (r8 perf fix:
    # separate raw/tgt/totals aggregates each re-ran the corpus explode —
    # measured 3 extra passes at the 10x probe). Conditional aggregation
    # gives the target counts; the totals fold over the BUCKET table,
    # which is DSIR_BUCKETS-sized, not corpus-sized.
    bucket_counts = grams.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_raw"),
        # when/otherwise, NOT a bare boolean cast: (NULL = 'en') is NULL
        # and sum(NULL,...) over a bucket of only NULL-lang docs would
        # propagate NULL into ln() (r8 review finding; the oracle's CASE
        # form yields 0 for the same bucket)
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("c_tgt"),
    )
    # totals ride an unpartitioned window over the BUCKET table (r12):
    # the crossJoin(broadcast(totals)) form paid two serial broadcast-
    # build jobs (totals, then lr) each re-walking the bucket aggregate;
    # the window is one task over at most DSIR_BUCKETS (1024) rows —
    # bounded by construction at any corpus size. Same float values,
    # same ln() arithmetic.
    lr = bucket_counts.selectExpr(
        "b",
        "c_raw",
        "c_tgt",
        "sum(c_raw) OVER () AS t_raw",
        "sum(c_tgt) OVER () AS t_tgt",
    ).selectExpr(
        "b",
        f"ln((c_tgt + 1.0) / (t_tgt + {DSIR_BUCKETS}))"
        f" - ln((c_raw + 1.0) / (t_raw + {DSIR_BUCKETS})) AS lr",
    )
    conv20 = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 5), 16, 10) AS BIGINT)"
    scored = (
        # lr has at most DSIR_BUCKETS rows BY CONSTRUCTION -> unconditional
        # broadcast (the corpus side never shuffles for the scoring join)
        grams.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr").alias("w"),
            F.avg("lr").alias("w_avg"),
        )
        .selectExpr(
            "doc_id",
            "n_grams",
            # + 0.0 canonicalizes IEEE -0.0 (repr-visible to the driver's
            # full-precision hash) to 0.0 on both engines
            "round(w, 4) + 0.0 AS sum_log_ratio",
            "round(w_avg, 4) + 0.0 AS avg_log_ratio",
            f"round(w + ({_gumbel('doc_id', conv20)}), 4) + 0.0 AS gumbel_key",
        )
    )
    # percent-rank via the COMPOSITE-key distributed prefix rank (r13,
    # VERDICT r12 "Next round" #5): gumbel keys are floats rounded to 4
    # decimals, so they can collide — which previously forced the rank
    # table to JOIN BACK onto the corpus-sized scored frame (two more
    # exchanges + a persist of scored). Composing doc_id into the rank
    # key makes it unique BY CONSTRUCTION: (gumbel_key, doc_id) sorts
    # identically to gumbel_key with ties broken by doc_id, so
    # `rank_unique` carries the payload through the rank itself (no
    # histogram group-by, no join-back, scored persist gone). The
    # oracle's ties-EQUAL percent_rank is recovered exactly: rows of a
    # tie group are consecutive in the composite order, so the group's
    # first row's cnt_better IS the strictly-smaller-gumbel count —
    # min(cnt_better) over the tie group (a skinny per-doc window),
    # never a corpus join.
    from pyspark.sql import Window

    from ..plans.cumsum import rank_unique

    ranked = rank_unique(scored, ["gumbel_key", "doc_id"])
    w = Window.partitionBy("gumbel_key")
    return (
        ranked.withColumn("g_better", F.min("cnt_better").over(w))
        .selectExpr(
            "doc_id",
            "n_grams",
            "sum_log_ratio",
            "avg_log_ratio",
            "gumbel_key",
            "(CASE WHEN n_total = 1 THEN 0.0D"
            f" ELSE g_better / (n_total - 1) END) >= {DSIR_KEEP_PCT}"
            " AS keep",
        )
    )


def _dsir_duck() -> str:
    from .text_ops import TOKENS_DUCK

    conv20 = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5))::UBIGINT"
        " AS BIGINT)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, lang, {TOKENS_DUCK} AS toks FROM documents
),
grams AS (
  SELECT doc_id, lang, {_dsir_bucket_duck('gram')} AS b
  FROM toks, unnest({_DSIR_GRAMS_DUCK}) AS u(gram)
),
raw AS (SELECT b, count(*) AS c_raw FROM grams GROUP BY 1),
tgt AS (SELECT b, count(*) AS c_tgt FROM grams
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
totals AS (
  SELECT count(*) AS t_raw,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS t_tgt
  FROM grams
),
lr AS (
  SELECT b,
         ln((coalesce(c_tgt, 0) + 1.0) / (t_tgt + {DSIR_BUCKETS}))
         - ln((c_raw + 1.0) / (t_raw + {DSIR_BUCKETS})) AS lr
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN totals
),
scored AS (
  SELECT doc_id, count(*) AS n_grams,
         round(sum(lr), 4) + 0.0 AS sum_log_ratio,
         round(avg(lr), 4) + 0.0 AS avg_log_ratio,
         round(sum(lr) + ({_gumbel('doc_id', conv20)}), 4) + 0.0 AS gumbel_key
  FROM grams JOIN lr USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_grams, sum_log_ratio, avg_log_ratio, gumbel_key,
       percent_rank() OVER (ORDER BY gumbel_key) >= {DSIR_KEEP_PCT} AS keep
FROM scored
"""


DSIR_SELECT_SQL = _dsir_duck()


# ---------------------------------------------------------------------------
# Training-order shuffle: the global pseudo-random permutation a training
# run reads the corpus in (shuffle-before-training), plus round-robin
# shard assignment FROM that order — equal-size shards whose contents are
# already mixed. The permutation key is md5(doc_id), so the order is
# deterministic, engine-stable and partitioning-independent; the global
# position comes from `plans/cumsum.histogram_cnt_better`'s DISTRIBUTED
# branch (range exchange + Arrow local prefix + partition-count offsets)
# because the key space here grows with the corpus — one md5 per doc —
# making this the registry's real-data exercise of the branch the
# synthetic >2^20-value bench probe covers (no single task ever sorts
# the corpus). The rank joins back on the 16-byte key: a linear
# sort-merge join of two skinny corpus-sized sides.
# ---------------------------------------------------------------------------

N_ORDER_SHARDS = 16


def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.cumsum import histogram_cnt_better

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.selectExpr(
        "doc_id", "md5(CAST(doc_id AS STRING)) AS shuffle_key"
    )
    # md5 keys are unique per doc, so doc_id rides the rank itself
    # (carry, r12) — the corpus-sized join-back is gone.
    return histogram_cnt_better(
        keyed, "shuffle_key", small_value_space=False, carry=("doc_id",)
    ).selectExpr(
        "doc_id", "cnt_better AS pos",
        f"cnt_better % {N_ORDER_SHARDS} AS shard",
    )


TRAINING_SHUFFLE_SQL = f"""
SELECT doc_id,
       row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1 AS pos,
       (row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1)
         % {N_ORDER_SHARDS} AS shard
FROM documents
"""


QUERIES = {
    "stratified_sample_documents": stratified_sample_documents,
    "training_shuffle_order": training_shuffle_order,
    "train_test_split_documents": train_test_split_documents,
    "source_mix_resample": source_mix_resample,
    "temperature_resample": temperature_resample,
    "token_budget_select": token_budget_select,
    "dsir_select": dsir_select,
}
ORACLE = {
    "stratified_sample_documents": STRATIFIED_SAMPLE_SQL,
    "training_shuffle_order": TRAINING_SHUFFLE_SQL,
    "train_test_split_documents": TRAIN_TEST_SPLIT_SQL,
    "source_mix_resample": SOURCE_MIX_SQL,
    "temperature_resample": TEMPERATURE_RESAMPLE_SQL,
    "token_budget_select": TOKEN_BUDGET_SQL,
    "dsir_select": DSIR_SELECT_SQL,
}
