"""Pre-training quality filters over `documents` — the Gopher/C4 rule
family, repetition statistics, PII redaction, benchmark-contamination
checking, and token-window chunking.

These extend the text-analysis surface (`operators/text_ops.py`) with the
filters a production training-data pipeline runs between crawl and
tokenizer. Capability context from the reference: the event pipeline treats
scalar string transforms as first-class plan operators
(`libs/core-functions/src/functions/lib/strings.ts:11-35`,
`ga4-destination.ts:163-166`); these are the corpus-scale members of that
family.

Scale notes (100 TB stance):
- `gopher_quality_flags` and `pii_redact` are single-scan column
  expressions — whole-stage codegen, zero shuffle, no Python.
- `repetition_stats` explodes word bigrams and aggregates per doc: the
  shuffle carries (doc_id, bigram-hash) pairs, never document text, and
  partial aggregation collapses repeated bigrams map-side — the exact
  reason repetitive docs (the ones we're hunting) shrink the most.
- `contamination_check` builds the held-out shingle set from the
  deterministic test split (5% of docs) and joins it to the train side.
  The held-out set is the small side: Spark broadcasts it under
  `autoBroadcastJoinThreshold`, so the train corpus never shuffles —
  at 1000 executors this is a map-side semi-join per partition.
- `chunk_documents` is a generate (explode of window starts) — linear
  output, no shuffle; chunking 100 TB is a pure map stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .sampling import _bucket, _bucket_duck
from .text_ops import STOPWORDS, TOKENS, TOKENS_DUCK

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)

# ---------------------------------------------------------------------------
# Gopher-style quality rules (word count / mean word length / stopword
# presence / alphabetic-word fraction), emitted as auditable flags plus the
# combined keep decision.
# ---------------------------------------------------------------------------

MIN_WORDS, MAX_WORDS = 30, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MIN_STOPWORDS = 2
MIN_ALPHA_FRAC = 0.8

# THE Gopher keep rule over the named feature columns — the single
# source of truth consumed by gopher_quality_flags, the funnel report,
# and both DuckDB twins (plain comparisons, dialect-neutral). Changing a
# threshold or adding a rule happens HERE once (r7 review finding: the
# rule previously existed in three hand-copied variants).
GOPHER_KEEP_RULE = (
    f"(n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS})"
    f" AND (mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN})"
    f" AND n_stopwords >= {MIN_STOPWORDS}"
    f" AND alpha_frac >= {MIN_ALPHA_FRAC}"
)


def gopher_feature_exprs(t: str) -> list[str]:
    """Spark SQL feature expressions over a token-array column `t` —
    shared by every consumer of the rule."""
    return [
        f"size({t}) AS n_words",
        f"round(aggregate({t}, 0L, (a, x) -> a + length(x)) / size({t}), 4)"
        " AS mean_word_len",
        f"size(filter({t}, x -> x IN ({_SW}))) AS n_stopwords",
        f"round(size(filter({t}, x -> x rlike '[a-zA-Z]')) / size({t}), 4)"
        " AS alpha_frac",
    ]


def gopher_feature_exprs_duck(t: str) -> list[str]:
    return [
        f"len({t}) AS n_words",
        f"round(list_sum(list_transform({t}, x -> length(x)))"
        f" / len({t}), 4) AS mean_word_len",
        f"len(list_filter({t}, x -> x IN ({_SW}))) AS n_stopwords",
        f"round(len(list_filter({t}, x -> regexp_matches(x, '[a-zA-Z]')))"
        f" / len({t}), 4) AS alpha_frac",
    ]


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule bundle: each rule is its own column so the
    downstream gate (and its tuning) is auditable; `keep` is the AND."""
    docs = load_table(spark, sf_dir, "documents")
    # mean word length over the token array (not chars/words of raw
    # text: whitespace runs would skew it) — feature expressions shared
    # via gopher_feature_exprs
    toks = docs.selectExpr("doc_id", f"{TOKENS} AS t", "length(text) AS n_chars_raw")
    feats = toks.selectExpr("doc_id", *gopher_feature_exprs("t"))
    return feats.selectExpr(
        "doc_id",
        "n_words",
        "mean_word_len",
        "n_stopwords",
        "alpha_frac",
        f"n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS} AS ok_words",
        f"mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}"
        " AS ok_word_len",
        f"n_stopwords >= {MIN_STOPWORDS} AS ok_stopwords",
        f"alpha_frac >= {MIN_ALPHA_FRAC} AS ok_alpha",
        f"{GOPHER_KEEP_RULE} AS keep",
    )


GOPHER_QUALITY_SQL = f"""
WITH feats AS (
  SELECT doc_id, {", ".join(gopher_feature_exprs_duck(TOKENS_DUCK))}
  FROM documents
)
SELECT doc_id, n_words,
       mean_word_len,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       alpha_frac,
       n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS} AS ok_words,
       mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}
         AS ok_word_len,
       n_stopwords >= {MIN_STOPWORDS} AS ok_stopwords,
       alpha_frac >= {MIN_ALPHA_FRAC} AS ok_alpha,
       {GOPHER_KEEP_RULE} AS keep
FROM feats
"""


# ---------------------------------------------------------------------------
# Repetition statistics (the Gopher "fraction of duplicate n-grams" family).
# ---------------------------------------------------------------------------

# Word bigrams from a token array `t` (empty when < 2 tokens).
BIGRAMS = (
    "CASE WHEN size({t}) >= 2 THEN "
    "transform(sequence(0, size({t}) - 2), i -> concat({t}[i], ' ', {t}[i+1])) "
    "ELSE array() END"
)
BIGRAMS_DUCK = "list_transform(range(1, len({t})), i -> {t}[i] || ' ' || {t}[i+1])"

TOP_BIGRAM_FRAC_MAX = 0.10
DUP_BIGRAM_FRAC_MAX = 0.50


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate-bigram statistics: what fraction of the document is
    its single most common bigram, and what fraction of bigram occurrences
    are repeats. Docs under 2 tokens have no bigrams and drop out (inner
    semantics, mirrored by the oracle).

    The explode shuffles (doc_id, bigram) — bounded by document length, and
    partial aggregation collapses repeats before the wire."""
    docs = load_table(spark, sf_dir, "documents")
    # r12 (guide §2.5/§2.4): hash the narrow projection by doc_id before
    # the tokenize+explode — the single-split scan otherwise runs the
    # explode in one task, and hash(doc_id) satisfies BOTH downstream
    # groupings, so the exploded bigrams never shuffle again.
    toks = (
        docs.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .selectExpr("doc_id", f"{TOKENS} AS t")
    )
    bg = toks.selectExpr("doc_id", f"explode({BIGRAMS.format(t='t')}) AS bigram")
    per_bigram = bg.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_bigram.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_bigram_cnt"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
        )
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "top_bigram_cnt",
            "n_distinct_bigrams",
            "round(top_bigram_cnt / n_bigrams, 4) AS top_bigram_frac",
            "round(1.0 - n_distinct_bigrams / n_bigrams, 4) AS dup_bigram_frac",
            f"top_bigram_cnt / n_bigrams <= {TOP_BIGRAM_FRAC_MAX}"
            f" AND 1.0 - n_distinct_bigrams / n_bigrams <= {DUP_BIGRAM_FRAC_MAX}"
            " AS keep",
        )
    )


REPETITION_SQL = f"""
WITH bg AS (
  SELECT doc_id,
         unnest({BIGRAMS_DUCK.format(t=TOKENS_DUCK)}) AS bigram
  FROM documents
), per_bigram AS (
  SELECT doc_id, bigram, count(*) AS cnt
  FROM bg GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
         count(*) AS n_distinct_bigrams
  FROM per_bigram GROUP BY 1
)
SELECT doc_id, n_bigrams, top_bigram_cnt, n_distinct_bigrams,
       round(top_bigram_cnt / n_bigrams, 4) AS top_bigram_frac,
       round(1.0 - n_distinct_bigrams / n_bigrams, 4) AS dup_bigram_frac,
       top_bigram_cnt / n_bigrams <= {TOP_BIGRAM_FRAC_MAX}
         AND 1.0 - n_distinct_bigrams / n_bigrams <= {DUP_BIGRAM_FRAC_MAX}
         AS keep
FROM per_doc
"""


# ---------------------------------------------------------------------------
# PII detection + redaction. Patterns are chosen to compile identically
# under Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
# ---------------------------------------------------------------------------

PII_PATTERNS = {
    # marker, pattern
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "long_digits": r"\b\d{9,}\b",  # SSNs, CC numbers, phone runs
}


def _spark_pat(pat: str) -> str:
    """Spark SQL string literals process backslash escapes (unlike DuckDB's
    standard-SQL literals), so the regex backslashes must be doubled."""
    return pat.replace("\\", "\\\\")


def redact_text_expr(col: str = "text") -> str:
    """Spark SQL expression chaining one regexp_replace per PII class."""
    expr = col
    for name, pat in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{_spark_pat(pat)}', '<{name}>')"
    return expr


def redact_text_duck(col: str = "text") -> str:
    expr = col
    for name, pat in PII_PATTERNS.items():
        expr = f"regexp_replace({expr}, '{pat}', '<{name}>', 'g')"
    return expr


def pii_redact_df(docs: DataFrame) -> DataFrame:
    """Core projection: per-class match counts + redacted text. Single scan,
    all codegen — redacting 100 TB is a map-only pass."""
    counts = [
        f"size(regexp_extract_all(text, '{_spark_pat(pat)}', 0)) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    ]
    return docs.selectExpr(
        "doc_id",
        *counts,
        f"{redact_text_expr()} AS redacted_text",
    ).selectExpr(
        "doc_id",
        *[f"n_{name}" for name in PII_PATTERNS],
        "redacted_text",
        " + ".join(f"n_{name}" for name in PII_PATTERNS) + " > 0 AS has_pii",
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_redact_df(load_table(spark, sf_dir, "documents"))


_PII_COUNTS_DUCK = ",\n       ".join(
    f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
    for name, pat in PII_PATTERNS.items()
)
_PII_SUM = " + ".join(f"n_{name}" for name in PII_PATTERNS)

PII_REDACT_SQL = f"""
WITH counted AS (
  SELECT doc_id,
       {_PII_COUNTS_DUCK},
       {redact_text_duck()} AS redacted_text
  FROM documents
)
SELECT doc_id, {", ".join(f"n_{name}" for name in PII_PATTERNS)},
       redacted_text,
       {_PII_SUM} > 0 AS has_pii
FROM counted
"""


# ---------------------------------------------------------------------------
# Benchmark-contamination check: which train-split documents share word
# 3-gram shingles with the held-out test split (md5 bucket >= 950, the same
# deterministic split as sampling.train_test_split_documents).
# ---------------------------------------------------------------------------

TEST_BUCKET_MIN = 950
CONTAMINATION_FLAG_FRAC = 0.5

# Word 3-gram shingles (same shape as text_ops.SHINGLES).
_SHINGLES = (
    "CASE WHEN size(t) >= 3 THEN "
    "transform(sequence(0, size(t) - 3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])) "
    "ELSE array() END"
)
_SHINGLES_DUCK = (
    "list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train docs ranked by overlap with the held-out shingle set.

    Output: one row per contaminated train doc (inner semantics — clean
    docs are the uninteresting majority) with distinct-shingle counts and
    the overlap fraction. The held-out set is ~5% of the corpus and only
    distinct shingle hashes cross the wire; Spark's broadcast threshold
    keeps the train side shuffle-free while the held-out set fits."""
    # r12: the tokenize+shingle pass ran directly on the scan — one task
    # on a single-row-group input (guide §2.5). Hash the narrow
    # projection by doc_id first (no-op cost at production where the
    # scan is well-split and AQE plans the real exchange); the per-doc
    # aggregate below then needs no further exchange. Interleaved A/B
    # medians: orig 0.858, repartition 0.682, repartition+persisted
    # shingles 0.803 — recomputing the explode 32-way beats caching it,
    # so both branches stay live.
    n_part = spark.sparkContext.defaultParallelism
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(n_part, "doc_id")
    )
    toks = docs.selectExpr("doc_id", f"{TOKENS} AS t")
    sh = toks.selectExpr(
        "doc_id", f"explode(array_distinct({_SHINGLES})) AS shingle"
    )
    is_test = _bucket(F.col("doc_id")) >= TEST_BUCKET_MIN
    test_shingles = sh.where(is_test).select("shingle").distinct()
    train_sh = sh.where(~is_test)
    # One left broadcast join + ONE aggregate: count(*) is the doc's shingle
    # total, count(match marker) its held-out overlap — no second scan of
    # the corpus for totals and no join-back.
    marked = train_sh.join(
        test_shingles.withColumn("hit", F.lit(1)),
        "shingle",
        "left",
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("hit").alias("n_contaminated"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .where(F.col("n_contaminated") > 0)
        .selectExpr(
            "doc_id",
            "n_contaminated",
            "n_shingles",
            "round(n_contaminated / n_shingles, 4) AS contamination_frac",
            f"n_contaminated / n_shingles >= {CONTAMINATION_FLAG_FRAC} AS flagged",
        )
    )


CONTAMINATION_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS t,
         {_bucket_duck('doc_id')} AS bucket
  FROM documents
), sh AS (
  SELECT doc_id, bucket, unnest(list_distinct({_SHINGLES_DUCK})) AS shingle
  FROM toks
), test_shingles AS (
  SELECT DISTINCT shingle, 1 AS hit FROM sh WHERE bucket >= {TEST_BUCKET_MIN}
), marked AS (
  SELECT s.doc_id, t.hit
  FROM sh s LEFT JOIN test_shingles t USING (shingle)
  WHERE s.bucket < {TEST_BUCKET_MIN}
), per_doc AS (
  SELECT doc_id,
         count(hit) AS n_contaminated,
         count(*) AS n_shingles
  FROM marked GROUP BY 1
)
SELECT doc_id, n_contaminated, n_shingles,
       round(n_contaminated / n_shingles, 4) AS contamination_frac,
       n_contaminated / n_shingles >= {CONTAMINATION_FLAG_FRAC} AS flagged
FROM per_doc
WHERE n_contaminated > 0
"""


# ---------------------------------------------------------------------------
# Token-window chunking: fixed-size windows with overlap — the step that
# turns documents into training sequences.
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode each document into CHUNK_TOKENS-token windows every
    CHUNK_STRIDE tokens (overlap = CHUNK_TOKENS - CHUNK_STRIDE). Pure
    generate: no shuffle, output linear in corpus size. Docs with zero
    tokens drop out (inner semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", f"{TOKENS} AS t")
    starts = toks.selectExpr(
        "doc_id",
        "t",
        # guard: sequence() rejects (0, -1) bounds on zero-token docs
        f"explode(CASE WHEN size(t) >= 1 THEN"
        f" sequence(0, size(t) - 1, {CHUNK_STRIDE})"
        " ELSE array() END) AS start",
    )
    return starts.selectExpr(
        "doc_id",
        f"CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id",
        f"size(slice(t, start + 1, {CHUNK_TOKENS})) AS n_chunk_tokens",
        f"md5(concat_ws(' ', slice(t, start + 1, {CHUNK_TOKENS}))) AS chunk_hash",
    )


CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS t FROM documents
), starts AS (
  SELECT doc_id, t, unnest(range(0, len(t), {CHUNK_STRIDE})) AS start
  FROM toks
)
SELECT doc_id,
       start // {CHUNK_STRIDE} AS chunk_id,
       len(list_slice(t, start + 1, start + {CHUNK_TOKENS})) AS n_chunk_tokens,
       md5(array_to_string(list_slice(t, start + 1, start + {CHUNK_TOKENS}), ' '))
         AS chunk_hash
FROM starts
"""


# ---------------------------------------------------------------------------
# Per-source percentile gating: keep documents above a quality percentile
# WITHIN their source (per-stratum thresholds, not one global cutoff — a
# curated source's median beats a crawl's p90).
# ---------------------------------------------------------------------------

GATE_PERCENTILE = 0.25  # drop the worst quartile of each source


def _gate_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc stopword ratio — the scan-side metric both gate forms rank."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "source",
        f"round(size(filter({TOKENS}, x -> x IN ({_SW}))) / size({TOKENS}), 6)"
        " AS sw_ratio",
    )


def quality_percentile_gate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-scale twin: direct percent_rank window. PARTITION BY source puts
    an entire source in ONE task's sort — sources are few and huge at 100 TB
    (a 20 TB source = one executor sorting 20 TB), so this form exists only
    as the oracle-checked reference for `quality_percentile_gate`."""
    return _gate_scored(spark, sf_dir).selectExpr(
        "doc_id",
        "source",
        "sw_ratio",
        "round(percent_rank() OVER (PARTITION BY source ORDER BY sw_ratio), 6)"
        " AS pct_rank",
        f"percent_rank() OVER (PARTITION BY source ORDER BY sw_ratio)"
        f" >= {GATE_PERCENTILE} AS keep",
    )


def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale form: identical output to the window twin, but the only window
    runs over a COMPACT per-(source, sw_ratio) value histogram, never the
    corpus.

    percent_rank(x) = (rank-1)/(n-1) where rank-1 is exactly the count of
    rows strictly below x (ties share the min rank). sw_ratio is rounded to
    6 decimals, so the histogram has at most 1e6+1 rows per source no
    matter how many documents a source holds — the groupBy partial-
    aggregates map-side and the cumulative window sorts a bounded table.
    The per-value pct_rank then joins back onto the corpus (broadcast
    under Spark's threshold; above it AQE re-plans from measured sizes — the
    histogram is bounded by value space, not by N, so it measures small).
    Net: one bounded shuffle + one broadcast join replace the single-task
    per-source corpus sort the window form needs."""
    from ..plans.topk import persist_bounded

    # r12: the tokenize+stopword scan ran TWICE — the histogram subtree
    # is a broadcast BUILD job that executes serially before the probe
    # walk, so the duplicate work isn't hidden by idle cores the way
    # concurrent same-job subtrees are. Persisting the skinny scored
    # frame (doc_id, source, ratio) measured 0.580 vs 0.715 orig;
    # a doc_id repartition under it measured WORSE (0.736/0.769) —
    # the stopword filter is too cheap for §2.5 here.
    scored = persist_bounded(_gate_scored(spark, sf_dir))
    hist = scored.groupBy("source", "sw_ratio").agg(F.count(F.lit(1)).alias("cnt"))
    ranks = hist.selectExpr(
        "source AS r_source",
        "sw_ratio AS r_ratio",
        # count strictly below = cumulative cnt excluding the current value
        "coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY sw_ratio"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) AS cnt_lt",
        "sum(cnt) OVER (PARTITION BY source) AS n_total",
    ).selectExpr(
        "r_source",
        "r_ratio",
        # single-row partitions: percent_rank defines 0.0 (not 0/0)
        "CASE WHEN n_total = 1 THEN 0.0D"
        " ELSE cnt_lt / (n_total - 1) END AS pr",
    )
    joined = scored.join(
        ranks,
        scored["source"].eqNullSafe(ranks["r_source"])
        & scored["sw_ratio"].eqNullSafe(ranks["r_ratio"]),
    )
    return joined.selectExpr(
        "doc_id",
        "source",
        "sw_ratio",
        "round(pr, 6) AS pct_rank",
        f"pr >= {GATE_PERCENTILE} AS keep",
    )


QUALITY_PERCENTILE_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
         round(len(list_filter({TOKENS_DUCK}, x -> x IN ({_SW})))
               / len({TOKENS_DUCK}), 6) AS sw_ratio
  FROM documents
)
SELECT doc_id, source, sw_ratio,
       round(percent_rank() OVER (PARTITION BY source ORDER BY sw_ratio), 6)
         AS pct_rank,
       percent_rank() OVER (PARTITION BY source ORDER BY sw_ratio)
         >= {GATE_PERCENTILE} AS keep
FROM scored
"""


# ---------------------------------------------------------------------------
# Embedding hygiene: per-label norm statistics + zero/NaN detection — the
# sanity pass before any ANN index build. Vector math via F.aggregate
# (JVM higher-order function), no Python.
# ---------------------------------------------------------------------------


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm distribution (mean/min/max + count of
    degenerate zero vectors). Single scan of the vectors, aggregate on the
    tiny label key."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = "sqrt(aggregate(embedding, 0.0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    return (
        emb.selectExpr("label", f"{norm} AS norm", "size(embedding) AS dim")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
            F.sum((F.col("norm") == 0).cast("long")).alias("n_zero"),
            F.max("dim").alias("dim"),
        )
    )


EMB_NORM_STATS_SQL = """
WITH n AS (
  SELECT label,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
         len(embedding) AS dim
  FROM embeddings
)
SELECT label,
       count(*) AS n_vectors,
       round(avg(norm), 4) AS avg_norm,
       round(min(norm), 4) AS min_norm,
       round(max(norm), 4) AS max_norm,
       CAST(sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(max(dim) AS INTEGER) AS dim
FROM n
GROUP BY label
"""


# ---------------------------------------------------------------------------
# Composed filter-attrition funnel (round 7) — the FineWeb-style
# stage-by-stage report a pipeline owner reads before shipping a filter
# chain: how many documents each successive gate drops. Stages run in
# the order a real web-corpus pipeline applies them (language ID ->
# Gopher rule bundle -> repetition gate), each stage's survivors feeding
# the next, so per-stage counts are CUMULATIVE attrition, not
# independent marginals.
#
# Scale: one scan computes the language + Gopher flags as expressions;
# the repetition verdict is the one bigram aggregate joined back on
# doc_id (co-keyed, one shuffle); the funnel itself aggregates to 4
# counter cells unpivoted into rows. Zero Python.
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ["all", "lang_en", "gopher", "repetition"]


def quality_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage_idx, stage, n_in, n_kept, drop_rate): cumulative attrition
    through lang-ID -> Gopher -> repetition. Docs with < 2 tokens have
    no bigram row and fail the repetition stage (coalesce false) — at
    funnel position 3 that is moot in practice because the Gopher
    min-words rule drops them earlier."""
    e_ratio = "length(regexp_replace(text, '[^e]', '')) / length(text)"
    t_ratio = "length(regexp_replace(text, '[^t]', '')) / length(text)"
    docs = load_table(spark, sf_dir, "documents")
    # the Gopher stage evaluates the SHARED feature exprs + keep rule —
    # the funnel cannot drift from gopher_quality_flags by construction
    # r12 (guide §2.5): hash by doc_id before the char-ratio regexes +
    # tokenize + Gopher features (single-split scan input skew); the
    # same partitioning serves the doc_id join with the repetition stage.
    flags = docs.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).selectExpr(
        "doc_id",
        f"{e_ratio} > 0.09 AND {t_ratio} > 0.06 AS s_lang",
        f"{TOKENS} AS t",
    ).selectExpr(
        "doc_id",
        "s_lang",
        *gopher_feature_exprs("t"),
    ).selectExpr("doc_id", "s_lang", f"{GOPHER_KEEP_RULE} AS s_gopher")
    rep = repetition_stats(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("s_rep")
    )
    cum = flags.join(rep, "doc_id", "left").selectExpr(
        "s_lang AS c1",
        "s_lang AND s_gopher AS c2",
        "s_lang AND s_gopher AND coalesce(s_rep, false) AS c3",
    )
    agg = cum.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c1").cast("long")).alias("k1"),
        F.sum(F.col("c2").cast("long")).alias("k2"),
        F.sum(F.col("c3").cast("long")).alias("k3"),
    )
    return agg.selectExpr(
        "stack(4,"
        " 0, 'all',        n,  n,"
        " 1, 'lang_en',    n,  k1,"
        " 2, 'gopher',     k1, k2,"
        " 3, 'repetition', k2, k3"
        ") AS (stage_idx, stage, n_in, n_kept)"
    ).selectExpr(
        "stage_idx",
        "stage",
        "n_in",
        "n_kept",
        "round(1.0 - n_kept / n_in, 4) AS drop_rate",
    )


QUALITY_FUNNEL_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         length(regexp_replace(text, '[^e]', '', 'g')) / length(text) > 0.09
           AND length(regexp_replace(text, '[^t]', '', 'g')) / length(text)
               > 0.06 AS s_lang,
         {", ".join(gopher_feature_exprs_duck(TOKENS_DUCK))}
  FROM documents
),
flags AS (
  SELECT doc_id, s_lang, {GOPHER_KEEP_RULE} AS s_gopher FROM feats
),
rep AS (
  SELECT doc_id, keep AS s_rep FROM ({REPETITION_SQL})
),
cum AS (
  SELECT s_lang AS c1,
         s_lang AND s_gopher AS c2,
         s_lang AND s_gopher AND coalesce(s_rep, false) AS c3
  FROM flags LEFT JOIN rep USING (doc_id)
),
agg AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
  FROM cum
)
SELECT stage_idx, stage, n_in, n_kept,
       round(1.0 - n_kept / n_in, 4) AS drop_rate
FROM (
  SELECT 0 AS stage_idx, 'all' AS stage, n AS n_in, n AS n_kept FROM agg
  UNION ALL SELECT 1, 'lang_en', n, k1 FROM agg
  UNION ALL SELECT 2, 'gopher', k1, k2 FROM agg
  UNION ALL SELECT 3, 'repetition', k2, k3 FROM agg
)
"""


# ---------------------------------------------------------------------------
# Retrieval-based decontamination (round 7) — for every held-out document,
# WHICH train documents are its likeliest leaks. contamination_check flags
# train docs by overlap fraction; this is the complementary lookup: BM25
# retrieval (text_ops constants, Lucene idf) from each test doc's rarest
# shingles into the train corpus, top-3 ranked suspects per test doc —
# the audit query a decontamination run produces for human review.
#
# Scale: shingles are Zipf-sparse (median df = 1 here), and queries take
# each test doc's RAREST shingles by train df, so per-test-doc candidate
# fan-out is bounded by QUERY_SHINGLES x df(rarest) — both window ranks
# partition on a test doc and sort only its bounded candidate/shingle
# sets. Train postings join shingle-keyed with map-side partial tf; the
# corpus never shuffles text, only (doc_id, shingle-key) pairs.
# ---------------------------------------------------------------------------

RETRIEVAL_QUERY_SHINGLES = 16
RETRIEVAL_TOPK = 3


def retrieval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(test_doc_id, train_doc_id, n_shared, score, rank): top-3 BM25
    train-side suspects per held-out document."""
    from pyspark.sql.window import Window

    from .text_ops import _BM25_TERM

    from ..plans.topk import persist_bounded

    # r12: the tokenize+shingle explode ran inside the single-split scan
    # task (guide §2.5) and the train_tf lineage was walked by train_dl,
    # dfreq AND the scored join — up to four tokenize passes. Hash the
    # narrow projection by doc_id first (the per-doc aggregates become
    # exchange-free) and persist the skinny post-aggregation train_tf
    # (the tfidf pattern — interleaved medians 1.843 -> 1.410 and
    # 3.053 -> 1.985 across two hosts). Measured negatives: fan-out
    # alone 2.093 (the rewalks dominate), persist WITHOUT the fan-out
    # 3.355 vs 3.053 orig (the persist build then materializes the
    # single-task tokenize serially), persisting the exploded shingle
    # rows 1.710 (fatter than recomputing 32-way).
    n_part = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", "text")
        .repartition(n_part, "doc_id")
        .selectExpr("doc_id", f"{TOKENS} AS t")
        .selectExpr("doc_id", f"explode({_SHINGLES}) AS shingle")
    )
    is_test = _bucket(F.col("doc_id")) >= TEST_BUCKET_MIN
    train_tf = persist_bounded(
        sh.where(~is_test)
        .groupBy(F.col("doc_id").alias("train_doc_id"), "shingle")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    train_dl = train_tf.groupBy("train_doc_id").agg(
        F.sum("tf").alias("dl")
    )
    stats = train_dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = train_tf.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    wq = Window.partitionBy("test_doc_id").orderBy("df", "shingle")
    queries = (
        sh.where(is_test)
        .select(F.col("doc_id").alias("test_doc_id"), "shingle")
        .distinct()
        .join(dfreq, "shingle")
        .withColumn("qrn", F.row_number().over(wq))
        .where(F.col("qrn") <= RETRIEVAL_QUERY_SHINGLES)
        .select("test_doc_id", "shingle", "df")
    )
    scored = (
        queries.join(train_tf, "shingle")
        .join(train_dl, "train_doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr("test_doc_id", "train_doc_id", f"{_BM25_TERM} AS s")
        .groupBy("test_doc_id", "train_doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.round(F.sum("s"), 4).alias("score"),
        )
    )
    wr = Window.partitionBy("test_doc_id").orderBy(
        F.desc("score"), "train_doc_id"
    )
    return scored.withColumn("rank", F.row_number().over(wr)).where(
        F.col("rank") <= RETRIEVAL_TOPK
    )


def _retrieval_contamination_duck() -> str:
    from .text_ops import _BM25_TERM

    return f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS t,
         {_bucket_duck('doc_id')} AS bucket
  FROM documents
), sh AS (
  SELECT doc_id, bucket, unnest({_SHINGLES_DUCK}) AS shingle
  FROM toks
), train_tf AS (
  SELECT doc_id AS train_doc_id, shingle, count(*) AS tf
  FROM sh WHERE bucket < {TEST_BUCKET_MIN} GROUP BY 1, 2
), train_dl AS (
  SELECT train_doc_id, sum(tf) AS dl FROM train_tf GROUP BY 1
), stats AS (
  SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl FROM train_dl
), dfreq AS (
  SELECT shingle, count(*) AS df FROM train_tf GROUP BY 1
), queries AS (
  SELECT test_doc_id, shingle, df FROM (
    SELECT q.doc_id AS test_doc_id, q.shingle, dfreq.df,
           row_number() OVER (PARTITION BY q.doc_id
                              ORDER BY dfreq.df, q.shingle) AS qrn
    FROM (SELECT DISTINCT doc_id, shingle FROM sh
          WHERE bucket >= {TEST_BUCKET_MIN}) q
    JOIN dfreq USING (shingle)
  ) WHERE qrn <= {RETRIEVAL_QUERY_SHINGLES}
), scored AS (
  SELECT test_doc_id, train_doc_id,
         count(*) AS n_shared,
         round(sum({_BM25_TERM}), 4) AS score
  FROM queries JOIN train_tf USING (shingle)
  JOIN train_dl USING (train_doc_id) CROSS JOIN stats
  GROUP BY 1, 2
)
SELECT test_doc_id, train_doc_id, n_shared, score,
       row_number() OVER (PARTITION BY test_doc_id
                          ORDER BY score DESC, train_doc_id) AS rank
FROM scored
QUALIFY rank <= {RETRIEVAL_TOPK}
"""


RETRIEVAL_CONTAMINATION_SQL = _retrieval_contamination_duck()


# ---------------------------------------------------------------------------
# Robust length-outlier detection (round 7) — median/MAD per source, the
# outlier rule that survives the heavy-tailed length distributions a
# mean/stddev z-score is blown up by (a handful of concatenation-bug
# mega-documents shifts a mean; it cannot shift a median). Standard
# robust-z: |x - median| / (1.4826 * MAD) > 3.5 (Iglewicz-Hoaglin).
#
# Scale: exact percentile aggregates buffer a count-map over DISTINCT
# token lengths — bounded by value space, not corpus size — so the
# per-source median/MAD costs two bounded aggregates + broadcast
# join-backs; the corpus itself never sorts.
# ---------------------------------------------------------------------------

MAD_CONSISTENCY = 1.4826  # normal-consistency constant
MAD_FLAG_Z = 3.5


def length_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, median_tokens, mad, robust_z, flagged):
    per-source robust length outliers. With MAD = 0 (degenerate source)
    any deviation flags and robust_z is NULL."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.selectExpr(
        "doc_id", "source", f"size({TOKENS}) AS n_tokens"
    )
    med = lens.groupBy("source").agg(
        F.expr("percentile(n_tokens, 0.5)").alias("median_tokens")
    )
    dev = lens.join(med, "source").selectExpr(
        "doc_id",
        "source",
        "n_tokens",
        "median_tokens",
        "abs(n_tokens - median_tokens) AS adev",
    )
    mad = dev.groupBy("source").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return dev.join(mad, "source").selectExpr(
        "doc_id",
        "source",
        "n_tokens",
        "median_tokens",
        "mad",
        f"CASE WHEN mad = 0 THEN NULL"
        f" ELSE round(adev / ({MAD_CONSISTENCY} * mad), 4) END AS robust_z",
        f"adev > {MAD_FLAG_Z} * {MAD_CONSISTENCY} * mad AS flagged",
    )


LENGTH_OUTLIER_SQL = f"""
WITH lens AS (
  SELECT doc_id, source, len({TOKENS_DUCK}) AS n_tokens FROM documents
), med AS (
  SELECT source, quantile_cont(n_tokens, 0.5) AS median_tokens
  FROM lens GROUP BY 1
), dev AS (
  SELECT doc_id, source, n_tokens, median_tokens,
         abs(n_tokens - median_tokens) AS adev
  FROM lens JOIN med USING (source)
), mad AS (
  SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, median_tokens,
       mad,
       CASE WHEN mad = 0 THEN NULL
            ELSE round(adev / ({MAD_CONSISTENCY} * mad), 4) END AS robust_z,
       adev > {MAD_FLAG_Z} * {MAD_CONSISTENCY} * mad AS flagged
FROM dev JOIN mad USING (source)
"""


# -- C4 cleaning rules (round 9) ---------------------------------------------
#
# Raffel et al. 2020 ("Exploring the Limits of Transfer Learning", §2.2)
# — the cleaning pass that produced C4 from Common Crawl, the most-cited
# web-corpus recipe and the companion to the Gopher rules above:
#   line level: keep only lines that END in a terminal punctuation mark
#     (. ! ? ") AND contain >= C4_MIN_LINE_WORDS words AND do not
#     contain the word "javascript" (case-insensitive);
#   page level: drop pages whose kept lines hold fewer than
#     C4_MIN_SENTENCES sentences (terminal-mark count), pages containing
#     "lorem ipsum" (case-insensitive), and pages containing "{" (code);
#   (C4's remaining rule — the three-sentence-span dedup — is
#   `corpus_stats.duplicate_span_dedup`, already first-class.)
# Everything is one map-only projection over the lines array (higher-
# order functions, zero Python, zero shuffle before the final report);
# `kept_text_md5` hashes the cleaned page so the oracle certifies the
# reconstructed text byte-for-byte, not just the counts.

C4_MIN_LINE_WORDS = 3
C4_MIN_SENTENCES = 5
_C4_LINE_KEEP = (
    "l -> right(rtrim(l), 1) IN ('.', '!', '?', '\"')"
    f" AND size(split(trim(l), '\\\\s+')) >= {C4_MIN_LINE_WORDS}"
    " AND NOT contains(lower(l), 'javascript')"
)


def c4_page_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_lines, n_kept_lines, n_sentences, has_lorem_ipsum,
    has_brace, page_kept, kept_text_md5): the C4 cleaning decision per
    document with the cleaned text fingerprint."""
    from ..tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "split(text, '\\n') AS lines",
        "contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum",
        "contains(text, '{') AS has_brace",
    ).selectExpr(
        "doc_id",
        "size(lines) AS n_lines",
        f"filter(lines, {_C4_LINE_KEEP}) AS kept",
        "has_lorem_ipsum",
        "has_brace",
    ).selectExpr(
        "doc_id",
        "n_lines",
        "size(kept) AS n_kept_lines",
        "CAST(length(array_join(kept, '')) -"
        " length(translate(array_join(kept, ''), '.!?', '')) AS BIGINT)"
        " AS n_sentences",
        "has_lorem_ipsum",
        "has_brace",
        "md5(array_join(kept, '\\n')) AS kept_text_md5",
    ).selectExpr(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        "has_lorem_ipsum",
        "has_brace",
        f"n_sentences >= {C4_MIN_SENTENCES} AND NOT has_lorem_ipsum"
        " AND NOT has_brace AS page_kept",
        "kept_text_md5",
    )


_C4_LINE_KEEP_DUCK = (
    "l -> right(rtrim(l), 1) IN ('.', '!', '?', '\"')"
    f" AND len(regexp_extract_all(trim(l), '\\S+')) >= {C4_MIN_LINE_WORDS}"
    " AND NOT contains(lower(l), 'javascript')"
)

C4_PAGE_FILTER_SQL = f"""
WITH pages AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         contains(text, '{{') AS has_brace
  FROM documents
), kept AS (
  SELECT doc_id, len(lines) AS n_lines,
         list_filter(lines, {_C4_LINE_KEEP_DUCK}) AS kept,
         has_lorem_ipsum, has_brace
  FROM pages
), counted AS (
  -- array_to_string([]) is NULL in DuckDB (Spark's array_join gives
  -- ''): coalesce so an all-filtered page counts 0 sentences and
  -- fingerprints the empty string, matching the Spark side
  SELECT doc_id, n_lines, len(kept) AS n_kept_lines,
         CAST(length(coalesce(array_to_string(kept, ''), '')) -
              length(translate(coalesce(array_to_string(kept, ''), ''),
                               '.!?', '')) AS BIGINT) AS n_sentences,
         has_lorem_ipsum, has_brace,
         md5(coalesce(array_to_string(kept, chr(10)), ''))
           AS kept_text_md5
  FROM kept
)
SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem_ipsum,
       has_brace,
       n_sentences >= {C4_MIN_SENTENCES} AND NOT has_lorem_ipsum
         AND NOT has_brace AS page_kept,
       kept_text_md5
FROM counted
"""


# ---------------------------------------------------------------------------
# Threshold sweep (round 10): the selection curve a corpus owner reads
# before PICKING a quality threshold — for a fixed grid of cutoffs over
# the gate score, the doc count and token mass that would survive each.
# The FineWeb-Edu-style "classifier threshold ablation" table, computed
# in one pass.
#
# Scale: the corpus is scanned ONCE into a per-grid-cell histogram
# (<= N_SWEEP+1 rows no matter the corpus size — the same
# bounded-value-histogram trick as quality_percentile_gate); the sweep
# itself is a tiny theta-join of the threshold grid against the
# histogram (<= 12x12 rows). Thresholds and scores compare in exact
# integer MICRO-UNITS (engine-stable; no float boundary drift).
# ---------------------------------------------------------------------------

SWEEP_STEP_MU = 20_000  # 0.02 in micro-units
N_SWEEP = 11  # thresholds 0.00, 0.02, ..., 0.20

# zero-token docs have no stopword ratio; coalesce the score to 0 so
# they sit in the lowest bucket and threshold 0.00 keeps the WHOLE
# corpus (doc_pct == 1.0 exactly) instead of silently excluding them
# from every threshold row (review finding, round 10). try_divide keeps
# 0/0 NULL under ANSI mode; DuckDB float 0/0 is already NULL.
_SW_MU = (
    f"coalesce(CAST(round(round(try_divide("
    f"size(filter({TOKENS}, x -> x IN ({_SW}))),"
    f" size({TOKENS})), 6) * 1000000) AS BIGINT), CAST(0 AS BIGINT))"
)
_SW_MU_DUCK = (
    f"coalesce(CAST(round(round(len(list_filter({TOKENS_DUCK},"
    f" x -> x IN ({_SW}))) * 1.0 / len({TOKENS_DUCK}), 6) * 1000000)"
    " AS BIGINT), 0)"
)


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(threshold, n_docs, n_tokens, doc_pct, token_pct): corpus mass
    surviving `sw_ratio >= threshold` for each grid cutoff (the gate
    keeps stopword-bearing docs, matching quality_percentile_gate's
    direction). Percentages are against the whole corpus."""
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        f"{_SW_MU} AS sw_mu", f"size({TOKENS}) AS n_tok"
    )
    hist = (
        docs.selectExpr(
            f"least(CAST(sw_mu DIV {SWEEP_STEP_MU} AS INT),"
            f" {N_SWEEP - 1}) AS bucket",
            "n_tok",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("b_docs"),
            F.sum("n_tok").alias("b_toks"),
        )
    )
    grid = spark.range(N_SWEEP).selectExpr("CAST(id AS INT) AS t_idx")
    # theta join of two bounded frames (<= 12 rows each): survivors at
    # threshold t are the histogram cells at or above its grid index
    swept = (
        grid.join(hist, hist.bucket >= grid.t_idx, "left")
        .groupBy("t_idx")
        .agg(
            F.coalesce(F.sum("b_docs"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.sum("b_toks"), F.lit(0)).alias("n_tokens"),
        )
    )
    totals = docs.agg(
        F.count(F.lit(1)).alias("t_docs"), F.sum("n_tok").alias("t_toks")
    )
    return (
        swept.crossJoin(totals)  # 1-row scalar join
        .selectExpr(
            # explicit DOUBLE: Spark parses bare decimal literals as
            # DECIMAL, which would hash-mismatch DuckDB's doubles
            f"round(CAST(t_idx * {SWEEP_STEP_MU} AS DOUBLE) / 1000000, 2)"
            " AS threshold",
            "n_docs",
            "n_tokens",
            "round(n_docs / CAST(t_docs AS DOUBLE), 4) AS doc_pct",
            "round(n_tokens / CAST(t_toks AS DOUBLE), 4) AS token_pct",
        )
    )


QUALITY_SWEEP_SQL = f"""
WITH scored AS (
  SELECT {_SW_MU_DUCK} AS sw_mu, len({TOKENS_DUCK}) AS n_tok
  FROM documents
),
hist AS (
  SELECT least(CAST(sw_mu // {SWEEP_STEP_MU} AS INT), {N_SWEEP - 1})
           AS bucket,
         count(*) AS b_docs, sum(n_tok) AS b_toks
  FROM scored GROUP BY 1
),
grid AS (SELECT CAST(i AS INT) AS t_idx FROM unnest(range(0, {N_SWEEP})) t(i)),
swept AS (
  SELECT g.t_idx,
         coalesce(sum(h.b_docs), 0) AS n_docs,
         coalesce(sum(h.b_toks), 0) AS n_tokens
  FROM grid g LEFT JOIN hist h ON h.bucket >= g.t_idx
  GROUP BY 1
),
totals AS (SELECT count(*) AS t_docs, sum(n_tok) AS t_toks FROM scored)
SELECT round(t_idx * {SWEEP_STEP_MU} / 1000000.0, 2) AS threshold,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(n_docs * 1.0 / t_docs, 4) AS doc_pct,
       round(n_tokens * 1.0 / t_toks, 4) AS token_pct
FROM swept, totals
"""


# ---------------------------------------------------------------------------
# Character-entropy report (round 11): Shannon entropy of the per-doc
# character distribution — the classic low-cost repetitive-boilerplate
# detector (keyboard-mash, char-flood spam, and template pages all sit
# far below natural text's ~4.1 nats; compression-ratio filters measure
# the same thing with a codec this container lacks). Identity:
# H = ln(n) - (1/n) * sum_c cnt_c * ln(cnt_c) — computed from the
# per-(doc, char) counts, so the shuffle carries at most
# |alphabet| (~96) rows per doc with map-side combine, never the text.
# ---------------------------------------------------------------------------


def char_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars_text, n_distinct_chars, entropy_nats) per
    non-empty document. Oracle-checked (the tfidf/zipf float-rounding
    convention: round(.,4) + 0.0 canonicalizes both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    # split-on-empty is the single-pass char explode in BOTH engines
    # (per-index substring would rescan the string per character —
    # O(len^2) per doc, a hazard for long documents); both yield ['']
    # for an empty doc, filtered here so empty docs drop out.
    chars = docs.selectExpr(
        "doc_id", "explode(split(text, '')) AS ch"
    ).where("ch <> ''")
    counts = chars.groupBy("doc_id", "ch").count()
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("count").alias("n"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.sum(F.expr("count * ln(count)")).alias("clnc"),
        )
        .selectExpr(
            "doc_id",
            "n AS n_chars_text",
            "n_distinct_chars",
            "round(ln(n) - clnc / n, 4) + 0.0 AS entropy_nats",
        )
    )


CHAR_ENTROPY_SQL = """
WITH chars AS (
  SELECT doc_id, u.ch
  FROM documents,
       LATERAL unnest(string_split(text, '')) AS u(ch)
  WHERE u.ch <> ''
), counts AS (
  SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_chars_text,
       count(*) AS n_distinct_chars,
       round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 4) + 0.0
         AS entropy_nats
FROM counts GROUP BY doc_id
"""


QUERIES = {
    "quality_threshold_sweep": quality_threshold_sweep,
    "char_entropy_report": char_entropy_report,
    "c4_page_filter_report": c4_page_filter_report,
    "gopher_quality_flags": gopher_quality_flags,
    "repetition_stats": repetition_stats,
    "pii_redact": pii_redact,
    "contamination_check": contamination_check,
    "chunk_documents": chunk_documents,
    "quality_percentile_gate": quality_percentile_gate,
    "embedding_norm_stats": embedding_norm_stats,
    "quality_funnel_report": quality_funnel_report,
    "retrieval_contamination": retrieval_contamination,
    "length_outlier_mad": length_outlier_mad,
}
ORACLE = {
    "quality_threshold_sweep": QUALITY_SWEEP_SQL,
    "char_entropy_report": CHAR_ENTROPY_SQL,
    "c4_page_filter_report": C4_PAGE_FILTER_SQL,
    "quality_funnel_report": QUALITY_FUNNEL_SQL,
    "gopher_quality_flags": GOPHER_QUALITY_SQL,
    "repetition_stats": REPETITION_SQL,
    "pii_redact": PII_REDACT_SQL,
    "contamination_check": CONTAMINATION_SQL,
    "chunk_documents": CHUNK_SQL,
    "quality_percentile_gate": QUALITY_PERCENTILE_SQL,
    "embedding_norm_stats": EMB_NORM_STATS_SQL,
    "retrieval_contamination": RETRIEVAL_CONTAMINATION_SQL,
    "length_outlier_mad": LENGTH_OUTLIER_SQL,
}
