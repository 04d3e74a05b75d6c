"""Corpus-level n-gram statistics — the boilerplate-detection side of
web-corpus prep (RefinedWeb/CCNet-style line dedup operates on shared
lines; this corpus is single-line, so the shared unit is the word
3-gram shingle, the same unit the dedup family already hashes).

- `boilerplate_shingle_stats`: per-document, the fraction of its
  shingles that are corpus boilerplate (document frequency above a
  threshold) — the signal behind "strip the navbars/footers" filters.
- `ngram_topk`: the top-K shingles by document frequency — the corpus
  dashboard a pipeline owner watches for crawler junk and template
  explosions.

Scale: one shingle explode feeds both (the dedup family's
`_shingle_rows`); the document-frequency aggregate is partial-agg
friendly; the hot set (df > threshold) is tiny by construction and
broadcast back onto the per-doc rows — the corpus shuffles once on
shingle, never on text. Zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _SHINGLE_ROWS_DUCK, _shingle_rows

BOILERPLATE_MIN_DF = 3  # a shingle in >= this many docs is boilerplate
TOPK_NGRAMS = 20


def boilerplate_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_shingles, n_boilerplate, boilerplate_ratio): how much
    of each document is corpus-repeated shingle material."""
    from ..plans.topk import persist_bounded

    # r12: persist ONE walk of the shingle explode with the shingle
    # collapsed to its xxhash64 fingerprint — the df aggregate and the
    # flag join each re-ran tokenize + shingle assembly and shuffled
    # ~30-byte shingle strings where 8 bytes decide equality (guide
    # §2.3/§5). Collision-freedom on the fixtures is pinned in
    # tests/test_corpus_stats.py, so counts are identical to the
    # string form the oracle runs.
    sh = persist_bounded(
        _shingle_rows(spark, sf_dir).select(
            "doc_id", F.xxhash64("shingle").alias("s")
        )
    )
    hot = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= BOILERPLATE_MIN_DF)
        .select("s")
    )
    flagged = sh.join(
        hot.withColumn("_hot", F.lit(1)), "s", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hot"), F.lit(0))).alias("n_boilerplate"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boilerplate",
            F.round(F.col("n_boilerplate") / F.col("n_shingles"), 4).alias(
                "boilerplate_ratio"
            ),
        )
    )


BOILERPLATE_STATS_SQL = f"""
WITH sh AS ({_SHINGLE_ROWS_DUCK}),
hot AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= {BOILERPLATE_MIN_DF}
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       round(sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS boilerplate_ratio
FROM sh s LEFT JOIN hot h USING (shingle)
GROUP BY s.doc_id
"""


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K shingles by document frequency (ties broken
    lexicographically — fully deterministic).

    The heavy cut is orderBy+limit — Spark's TakeOrdered computes a
    per-partition top-K then merges K*partitions rows on the driver, so
    the full count table is never globally sorted. The rank window runs
    over the K survivors only (a global window over all shingles would
    funnel the corpus through one partition)."""
    from pyspark.sql import Window

    sh = _shingle_rows(spark, sf_dir)
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    top = counts.orderBy(F.desc("df"), F.asc("shingle")).limit(TOPK_NGRAMS)
    w = Window.orderBy(F.desc("df"), F.asc("shingle"))  # <= K rows
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "shingle", "df"
    )


NGRAM_TOPK_SQL = f"""
WITH sh AS ({_SHINGLE_ROWS_DUCK}),
counts AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
SELECT rank, shingle, df FROM (
  SELECT shingle, df,
         row_number() OVER (ORDER BY df DESC, shingle ASC) AS rank
  FROM counts
) WHERE rank <= {TOPK_NGRAMS}
"""


SPAN_K = 3  # gram width for duplicate-span detection


def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication report (the signal behind Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    exact duplicated SPANS across documents, not whole-doc near-dups):
    positions of grams shared with any other document, merged into
    maximal spans (gaps-and-islands), per-doc span count / covered
    tokens / coverage ratio.

    Scale: one positional gram explode; the cross-doc gram set comes
    from one partial-agg count; the island merge is a per-doc window —
    the corpus shuffles once on gram and once on doc_id."""
    from pyspark.sql import Window

    docs = load_table_docs(spark, sf_dir)
    # Same r12 shape as `remove_duplicate_spans`: ONE persisted walk of
    # the positional gram explode, gram collapsed to its xxhash64
    # fingerprint so both shuffles move 8 bytes instead of the gram
    # string (collision-free on the fixtures — pinned in tests).
    from ..plans.topk import persist_bounded

    grams = persist_bounded(
        docs.selectExpr(
            "doc_id",
            "size(toks) AS n_tokens",
            f"posexplode({_SHINGLES_T}) AS (pos, gram)",
        ).select("doc_id", "n_tokens", "pos", F.xxhash64("gram").alias("g"))
    )
    shared = (
        grams.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
        .select("g")
    )
    dup_pos = grams.join(shared, "g").select(
        "doc_id", "n_tokens", "pos"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        dup_pos.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_island",
            (F.col("prev").isNull() | (F.col("pos") - F.col("prev") > SPAN_K))
            .cast("int"),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = islands.groupBy("doc_id", "n_tokens", "island").agg(
        (F.max("pos") - F.min("pos") + SPAN_K).alias("span_tokens")
    )
    return spans.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_tokens").alias("dup_tokens"),
        F.round(F.sum("span_tokens") / F.col("n_tokens"), 4).alias(
            "dup_ratio"
        ),
    )


def load_table_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the token array materialized once (projection
    boundary — same pattern as dedup._shingle_rows).

    r12: the narrow (doc_id, text) projection hashes by doc_id before
    tokenization — every consumer explodes grams/tokens out of this
    frame, and with a single-split scan those explosions ran in ONE
    task (guide §2.5 input skew); hash(doc_id) also makes the per-doc
    aggregates downstream exchange-free. Explicit N because AQE would
    coalesce the byte-small doc exchange under the explode it feeds."""
    from ..tables import load_table
    from .text_ops import TOKENS

    n_part = spark.sparkContext.defaultParallelism
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(n_part, "doc_id")
        .selectExpr("doc_id", f"{TOKENS} AS toks")
    )


_SHINGLES_T = (
    "CASE WHEN size(toks) >= 3 THEN "
    "transform(sequence(0, size(toks) - 3),"
    " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) "
    "ELSE array() END"
)

from .text_ops import TOKENS_DUCK as _TOKS_DUCK  # noqa: E402

DUP_SPAN_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
),
grams AS (
  SELECT doc_id, len(toks) AS n_tokens, i - 1 AS pos,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM toks, unnest(range(1, len(toks) - 1)) AS t(i)
),
shared AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
  GROUP BY gram HAVING count(*) >= 2
),
dup_pos AS (
  SELECT g.doc_id, g.n_tokens, g.pos
  FROM grams g JOIN shared USING (gram)
),
flagged AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos - lag(pos) OVER w > {SPAN_K}
              THEN 1 ELSE 0 END AS new_island
  FROM dup_pos
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
  SELECT doc_id, n_tokens, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, n_tokens, island,
         max(pos) - min(pos) + {SPAN_K} AS span_tokens
  FROM islands GROUP BY doc_id, n_tokens, island
)
SELECT doc_id, n_tokens,
       count(*) AS n_dup_spans,
       CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
       round(sum(span_tokens) * 1.0 / n_tokens, 4) AS dup_ratio
FROM spans GROUP BY doc_id, n_tokens
"""


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: each document's mean unigram
    surprisal, -avg(ln p(token)), under the corpus's own unigram model
    (the CCNet-style LM quality signal with the corpus standing in for
    the reference LM). Low = templated/common tokens, high = rare-token
    soup; both tails are filter candidates.

    Scale: token explode -> one count aggregate (partial-agg friendly)
    -> one join back on token (the frequency table is vocabulary-sized,
    broadcast while it fits) -> per-doc average. Corpus text shuffles only
    as (token) pairs."""
    docs = load_table_docs(spark, sf_dir)
    toks = docs.selectExpr("doc_id", "explode(toks) AS tok")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # the corpus total folds into the plan as a 1-row broadcast cross
    # join (same shape as the oracle's CROSS JOIN total) — an eager
    # toks.count() here would re-scan and re-explode the whole corpus
    # for one scalar
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("cnt") / F.col("n_total"))).alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("s"), 4).alias("avg_surprisal"),
    )


# -- bigram language-model scoring (round 7) ---------------------------------
#
# The next step up from unigram_surprisal toward CCNet's actual regime:
# CCNet buckets documents by the perplexity of a reference LM; here the
# reference LM is an add-k-smoothed bigram model trained on the
# deterministic md5 train buckets (the quality_model split convention,
# no held-out leakage), and every document — train and held-out alike —
# is scored with its mean bigram negative log-likelihood.
#
# Scale: one bigram explode; the model tables (bigram counts, context
# counts, vocab size) are vocabulary-sized — Zipf-bounded, broadcast
# exactly like unigram_surprisal's frequency table (beyond
# broadcast they degrade to token-keyed shuffles, still never text).
# Scoring is the join of the corpus bigrams against those tables plus
# one per-doc average. Zero Python.

LM_ADD_K = 0.5

_BIGRAMS_T = (
    "CASE WHEN size(toks) >= 2 THEN "
    "transform(sequence(0, size(toks) - 2),"
    " i -> struct(toks[i] AS w1, toks[i+1] AS w2)) "
    "ELSE array() END"
)


def bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll): mean bigram negative log-likelihood
    under the train-bucket LM — P(w2|w1) = (c(w1,w2) + k) /
    (c(w1) + k·V), unseen contexts fall back to the uniform 1/V floor
    via the same formula. Documents with < 2 tokens have no bigrams and
    no row (same as the oracle). Monotone in CCNet's perplexity
    (ppl = exp(avg_nll)); the NLL form avoids a second cross-engine
    transcendental."""
    from .quality_model import TRAIN_BUCKET_LT
    from .sampling import _bucket

    from ..plans.topk import persist_bounded

    docs = load_table_docs(spark, sf_dir)
    # r12: derive c1/vocab from the persisted c2 type table (c1 = sum of
    # c2 per w1, V = distinct w2 of c2) — previously the corpus-sized
    # bigram frame was aggregated three separate times. The bigram
    # explode itself stays lazy (recomputing it twice is cheaper than
    # caching the wide two-string rows — measured 1.5 -> 4.0 s when bg
    # was persisted here). Identical counts, identical output.
    bg = docs.selectExpr(
        "doc_id", f"explode({_BIGRAMS_T}) AS bg"
    ).selectExpr("doc_id", "bg.w1 AS w1", "bg.w2 AS w2")
    train = bg.where(_bucket(F.col("doc_id")) < TRAIN_BUCKET_LT)
    c2 = persist_bounded(
        train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = c2.agg(F.countDistinct("w2").cast("double").alias("v"))
    k = LM_ADD_K
    scored = (
        bg.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(k))
                    / (
                        F.coalesce(F.col("c1"), F.lit(0))
                        + F.lit(k) * F.col("v")
                    )
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
    )


def _bigram_lm_duck() -> str:
    from .quality_model import TRAIN_BUCKET_LT
    from .sampling import _bucket_duck

    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM toks, unnest(range(1, len(toks))) AS t(i)
),
train AS (
  SELECT * FROM bg WHERE {_bucket_duck('doc_id')} < {TRAIN_BUCKET_LT}
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM train GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM train GROUP BY 1),
vocab AS (SELECT count(DISTINCT w2) * 1.0 AS v FROM train)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(-ln((coalesce(c2.c2, 0) + {LM_ADD_K})
                     / (coalesce(c1.c1, 0) + {LM_ADD_K} * vocab.v))), 4)
         AS avg_nll
FROM bg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN vocab
GROUP BY doc_id
"""


BIGRAM_LM_SQL = _bigram_lm_duck()


UNIGRAM_SURPRISAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents
),
freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT count(*) AS n FROM toks)
SELECT t.doc_id,
       count(*) AS n_tokens,
       round(avg(-ln(f.cnt * 1.0 / total.n)), 4) AS avg_surprisal
FROM toks t JOIN freq f USING (tok) CROSS JOIN total
GROUP BY t.doc_id
"""


# Production-realistic default span width for the removal pass: Lee et
# al. 2022 deduplicate substrings of >= 50 tokens. The oracle fixture
# keeps SPAN_K=3 (the corpus's shingle width) so the DuckDB parity form
# stays cheap and exact.
DUP_SPAN_K_DEFAULT = 50


def _kgram_expr(k: int) -> str:
    """Positional k-gram shingles over `toks` — the generic-width form
    of `_SHINGLES_T` (identical output at k=3: concat_ws over a slice
    equals the explicit 3-way concat, oracle-checked)."""
    return (
        f"CASE WHEN size(toks) >= {k} THEN "
        f"transform(sequence(0, size(toks) - {k}),"
        f" i -> concat_ws(' ', slice(toks, i + 1, {k}))) "
        "ELSE array() END"
    )


def remove_duplicate_spans(
    spark: SparkSession, sf_dir: str, k: int = DUP_SPAN_K_DEFAULT
) -> DataFrame:
    """The REMOVAL pass behind `duplicate_span_report` — what Lee et al.
    2022 actually apply: excise cross-document duplicated spans (>= k
    tokens, via shared k-grams) from the corpus, keeping one canonical
    occurrence.

    Deterministic rule: for every k-gram shared by >= 2 documents, the
    smallest doc_id holding it is canonical; every position that gram
    covers in OTHER documents is removed. Output is the full corpus,
    one row per document: (doc_id, n_tokens, n_removed, cleaned_text)
    with cleaned_text the kept tokens re-joined by single spaces
    (whitespace-normalizing, like every token-level op here).

    Scale — the r5-review fix: removal candidates stay ONE ROW PER HIT
    POSITION and collapse to MERGED (start, end) intervals via the
    report's gaps-and-islands pass before touching the corpus — the
    old `sequence(pos, pos + k - 1)` position explode multiplied
    candidate rows k-fold (50x at the production k), and the per-doc
    removal array held every covered index instead of one struct per
    maximal span. One positional gram explode; the duplicated-gram
    table aggregates with map-side combine and carries (gram, canon)
    only; the island window is per-doc (bounded by doc length); the
    corpus-side cleanup is a single join + an interval-containment
    filter projection — no per-doc text sort, no Python."""
    from pyspark.sql import Window

    docs = load_table_docs(spark, sf_dir)
    # Persist the positional gram rows ONCE with the gram collapsed to
    # its xxhash64 fingerprint (r12): the dup-gram aggregate and the
    # hit-position join each walked the tokenize + posexplode + string
    # concat lineage, and both shuffles carried ~25-byte gram strings
    # where 8 bytes decide equality (guide §2.3 narrower types, §5
    # reuse-persist). Fingerprint equality == string equality on the
    # deterministic fixtures (tests/test_corpus_stats.py pins zero
    # xxhash64 collisions per sf, so the output is bit-identical to the
    # string form the DuckDB oracle runs).
    from ..plans.topk import persist_bounded

    grams = persist_bounded(
        docs.selectExpr(
            "doc_id", f"posexplode({_kgram_expr(k)}) AS (pos, gram)"
        ).select("doc_id", "pos", F.xxhash64("gram").alias("g"))
    )
    dup = (
        grams.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("canon"))
        .where(F.col("df") >= 2)
        .select("g", "canon")
    )
    # hit positions (one row each — no k-fold explode), merged into
    # maximal intervals [s, e]: positions p, p' chain into one island
    # when p' - p <= k (their covered ranges overlap or touch)
    w = Window.partitionBy("doc_id").orderBy("pos")
    hits = (
        grams.join(dup, "g")
        .where(F.col("doc_id") != F.col("canon"))
        .select("doc_id", "pos")
    )
    islands = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_island",
            (F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k))
            .cast("int"),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    rm = (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(k - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("iv"))
    )
    return (
        docs.join(rm, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "size(toks) AS n_tokens",
            "CASE WHEN iv IS NULL THEN toks"
            " ELSE filter(toks, (x, i) ->"
            " NOT exists(iv, v -> i >= v.s AND i <= v.e)) END"
            " AS kept",
        )
        .selectExpr(
            "doc_id",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "CAST(n_tokens - size(kept) AS BIGINT) AS n_removed",
            "concat_ws(' ', kept) AS cleaned_text",
        )
    )


def duplicate_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: `remove_duplicate_spans` at the oracle fixture
    width k=SPAN_K (the corpus's 3-gram shingle unit — DuckDB parity
    stays exact and cheap). Production calls pass k=DUP_SPAN_K_DEFAULT
    (50) or their own width; the plan shape is identical at any k."""
    return remove_duplicate_spans(spark, sf_dir, k=SPAN_K)


DUP_SPAN_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
  FROM toks, unnest(range(1, len(toks) - 1)) AS t(i)
),
dup AS (
  SELECT gram, min(doc_id) AS canon
  FROM (SELECT DISTINCT doc_id, gram FROM grams)
  GROUP BY gram HAVING count(*) >= 2
),
rm AS (
  SELECT doc_id, list(DISTINCT pos + o.off) AS rm
  FROM grams g
  JOIN dup USING (gram)
  CROSS JOIN (SELECT unnest(range(0, {SPAN_K})) AS off) o
  WHERE g.doc_id <> dup.canon
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(CASE WHEN rm.rm IS NULL THEN 0
            ELSE len(toks) - len(list_filter(toks,
                 (x, i) -> NOT list_contains(rm.rm, i - 1))) END
            AS BIGINT) AS n_removed,
       coalesce(CASE WHEN rm.rm IS NULL THEN array_to_string(toks, ' ')
            ELSE array_to_string(list_filter(toks,
                 (x, i) -> NOT list_contains(rm.rm, i - 1)), ' ') END, '')
         AS cleaned_text
FROM toks t LEFT JOIN rm ON t.doc_id = rm.doc_id
"""


# OLS of ln(freq) on ln(rank) — identical formula text on both engines;
# the sums run over the VOCABULARY table (bounded), never the corpus.
_ZIPF_FIT = (
    "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope",
    "round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)"
    " AS intercept",
    "round(pow(n * sxy - sx * sy, 2)"
    " / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2",
)


# The OLS fit runs on the rank/frequency HEAD: a 100 TB web corpus has
# 10^8-10^9 distinct tokens (URLs, typos, hashes) and a full-vocabulary
# rank would be a single-partition global sort; the Zipf slope is
# estimated on the head anyway (the tail is the part that ISN'T Zipfian
# — hapax plateau), so top-V is both the honest statistic and the
# scale-safe plan.
ZIPF_FIT_TOP_V = 10_000


def zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_types, n_tokens, fit_ranks, zipf_slope, intercept, r2): the
    corpus-health diagnostic — token frequencies fitted to Zipf's law by
    OLS on the log-log rank/frequency curve over the top-V ranks. A
    healthy natural-language corpus sits near slope -1 with high r2;
    template explosions and crawler junk bend the curve (the dashboard
    signal next to `ngram_topk`).

    Scale: one token explode -> vocabulary-sized frequency table
    (partial-agg); n_types/n_tokens are plain aggregates over it (no
    sort); the head is `orderBy(cnt desc, tok).limit(V)` which Spark
    plans as TakeOrderedAndProject — per-partition top-V + driver merge,
    NO global sort — and the rank window + five OLS sums run over that
    V-bounded table only."""
    docs = load_table_docs(spark, sf_dir)
    freq = docs.selectExpr("explode(toks) AS tok").groupBy("tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = freq.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
    )
    head = freq.orderBy(F.col("cnt").desc(), "tok").limit(ZIPF_FIT_TOP_V)
    ranked = head.selectExpr(
        "cnt",
        "ln(row_number() OVER (ORDER BY cnt DESC, tok)) AS x",
        "ln(cnt) AS y",
    )
    sums = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.expr("x")).alias("sx"),
        F.sum(F.expr("y")).alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    # both sides are 1-row aggregates; the cross join is a broadcast of
    # one row, the same shape as the repo's other scalar-combine sites
    return sums.crossJoin(totals).selectExpr(
        "CAST(n_types AS BIGINT) AS n_types",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(n AS BIGINT) AS fit_ranks",
        *_ZIPF_FIT,
    )


ZIPF_FIT_SQL = f"""
WITH freq AS (
  SELECT tok, count(*) AS cnt
  FROM (SELECT unnest({_TOKS_DUCK}) AS tok FROM documents)
  GROUP BY 1
), totals AS (
  SELECT count(*) AS n_types, sum(cnt) AS n_tokens FROM freq
), head AS (
  SELECT cnt, tok FROM freq ORDER BY cnt DESC, tok LIMIT {ZIPF_FIT_TOP_V}
), ranked AS (
  SELECT cnt,
         ln(row_number() OVER (ORDER BY cnt DESC, tok)) AS x,
         ln(cnt) AS y
  FROM head
), sums AS (
  SELECT count(*) * 1.0 AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM ranked
)
SELECT CAST(n_types AS BIGINT) AS n_types,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n AS BIGINT) AS fit_ranks,
       {", ".join(_ZIPF_FIT)}
FROM sums, totals
"""




# ---------------------------------------------------------------------------
# N-gram novelty curve (round 8) — the marginal-novelty diagnostic for
# corpus ordering and acquisition: per document, the fraction of its
# distinct shingles whose FIRST corpus occurrence (min doc_id) is that
# document. A crawl whose late documents contribute near-zero novel
# shingles has saturated; the curve is the quantitative "stop crawling
# this source" signal next to `corpus_snapshot_diff`.
#
# Scale: one shingle explode feeds two aggregates — per-doc distinct
# counts and per-shingle first-occurrence (both partial-agg friendly) —
# and the novel counts come from GROUPING the first-occurrence table by
# its winner doc (no shingle-keyed join back to the corpus). The final
# doc-keyed join is corpus-row-sized on both sides.
# ---------------------------------------------------------------------------


def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_distinct_grams, n_novel, novel_frac): how much of each
    document's shingle vocabulary is first-seen there. Documents too
    short to form a shingle are absent (no gram set to measure), the
    same convention as the other shingle ops."""
    from .dedup import _shingle_rows

    pairs = _shingle_rows(spark, sf_dir)
    per_doc = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_distinct_grams")
    )
    novel = (
        pairs.groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return per_doc.join(
        novel, per_doc["doc_id"] == novel["first_doc"], "left"
    ).selectExpr(
        "doc_id",
        "n_distinct_grams",
        "coalesce(n_novel, 0L) AS n_novel",
        "round(coalesce(n_novel, 0L) / n_distinct_grams, 6) AS novel_frac",
    )


def _novelty_duck() -> str:
    from .dedup import _SHINGLE_ROWS_DUCK

    return f"""
WITH sh AS ({_SHINGLE_ROWS_DUCK}),
per_doc AS (
  SELECT doc_id, count(*) AS n_distinct_grams FROM sh GROUP BY 1
),
novel AS (
  SELECT first_doc, count(*) AS n_novel
  FROM (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
  GROUP BY 1
)
SELECT doc_id, n_distinct_grams,
       coalesce(n_novel, 0) AS n_novel,
       round(coalesce(n_novel, 0) / n_distinct_grams, 6) AS novel_frac
FROM per_doc LEFT JOIN novel ON doc_id = first_doc
"""


NGRAM_NOVELTY_SQL = _novelty_duck()




# ---------------------------------------------------------------------------
# PMI collocations (round 8) — the corpus-linguistics staple (Church &
# Hanks 1990): adjacent word pairs whose co-occurrence beats chance,
# PMI = ln(p(w1 w2) / (p(w1) p(w2))), reported for the top-K by PMI
# among pairs above a count floor (rare pairs give degenerate PMI).
# The dashboard row that surfaces templated phrases and collocation
# shifts between crawl snapshots.
#
# Scale: one bigram explode + one unigram explode, both partial-agg
# compressed to vocabulary-sized tables before any shuffle; the unigram
# probabilities broadcast onto the bigram counts; the top-K cut is
# TakeOrderedAndProject (per-partition top-K + driver merge, no global
# sort) and the rank window runs over the K survivors only.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOPK = 20


def collocation_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, w1, w2, pair_cnt, pmi): top-K adjacent-pair PMI with
    pair_cnt >= PMI_MIN_COUNT. Ties break on (w1, w2) — deterministic."""
    from pyspark.sql import Window

    # r12 note: persisting the token arrays to share ONE tokenize pass
    # across the three walks was measured 1.14x WORSE raw — caching fat
    # string arrays costs more than re-tokenizing 32-way (the walks are
    # already fanned out by load_table_docs). Left as three walks.
    docs = load_table_docs(spark, sf_dir)
    uni = docs.selectExpr("explode(toks) AS w").groupBy("w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = uni.agg(F.sum("cnt").alias("n_uni"))
    bi = (
        docs.selectExpr(
            "explode(CASE WHEN size(toks) >= 2 THEN"
            " transform(sequence(0, size(toks) - 2),"
            " i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
            " ELSE array() END) AS p"
        )
        .selectExpr("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= PMI_MIN_COUNT)
    )
    n_bi = docs.selectExpr(
        "CASE WHEN size(toks) >= 2 THEN size(toks) - 1 ELSE 0 END AS nb"
    ).agg(F.sum("nb").alias("n_bi"))
    u1 = uni.selectExpr("w AS w1", "cnt AS c1")
    u2 = uni.selectExpr("w AS w2", "cnt AS c2")
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "w1",
            "w2",
            "pair_cnt",
            # p(pair)=pair_cnt/n_bi, p(w)=cnt/n_uni — identical formula
            # text both engines; round-4 absorbs the <=1 ulp ln drift;
            # + 0.0 canonicalizes IEEE -0.0 (Spark round() drops the
            # sign, DuckDB keeps it — the repo's standard fix)
            "round(ln((pair_cnt / n_bi) / ((c1 / n_uni) * (c2 / n_uni))), 4)"
            " + 0.0 AS pmi",
        )
    )
    top = scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(PMI_TOPK)
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "w1", "w2", "pair_cnt", "pmi"
    )


COLLOCATION_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
),
uni AS (
  SELECT w, count(*) AS cnt
  FROM (SELECT unnest(toks) AS w FROM toks)
  GROUP BY 1
),
tot AS (SELECT sum(cnt) AS n_uni FROM uni),
bi AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2, count(*) AS pair_cnt
  FROM toks, unnest(range(1, len(toks))) AS t(i)
  GROUP BY 1, 2
  HAVING count(*) >= {PMI_MIN_COUNT}
),
nbi AS (
  SELECT sum(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END) AS n_bi
  FROM toks
),
scored AS (
  SELECT w1, w2, pair_cnt,
         round(ln((pair_cnt / n_bi) / ((u1.cnt / n_uni) * (u2.cnt / n_uni))), 4)
           + 0.0 AS pmi
  FROM bi
  JOIN uni u1 ON u1.w = w1
  JOIN uni u2 ON u2.w = w2
  CROSS JOIN nbi CROSS JOIN tot
)
SELECT rank, w1, w2, pair_cnt, pmi FROM (
  SELECT w1, w2, pair_cnt, pmi,
         row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
  FROM scored
) WHERE rank <= {PMI_TOPK}
"""


# -- Kneser-Ney bigram LM (round 9) ------------------------------------------
#
# The smoothing CCNet's KenLM reference models actually use (Kneser &
# Ney 1995; interpolated form per Chen & Goodman 1998 §2.7): absolute
# discounting plus a CONTINUATION-count backoff — P_cont(w) counts how
# many distinct contexts w follows, not how often, which is what
# separates KN from the add-k model `bigram_lm_nll` ships. Trained on
# the same deterministic md5 train buckets; every doc scored.
#
#   seen context:   P(w2|w1) = (max(c12 - D, 0) + D·N1+(w1,·)·Pc(w2)) / c1
#   unseen context: P(w2|w1) = Pc(w2)
#   Pc(w2) = (N1+(·,w2) + k) / (T + k·(V + 1))
#
# with D = 0.75 (the standard discount), N1+(w1,·) = distinct
# continuations of w1, N1+(·,w2) = distinct contexts preceding w2, T =
# distinct train bigram types, V = train vocabulary, and k = 0.5 add-k
# over the continuation distribution so held-out OOV tokens (the +1
# type) keep nonzero mass. Scale: same shape as bigram_lm_nll — one
# bigram explode, vocabulary-sized model tables (broadcast while they fit),
# one join-back pass, zero Python.

KN_DISCOUNT = 0.75


def kneser_ney_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll) under the interpolated Kneser-Ney
    bigram LM (formula above). Documents with < 2 tokens have no row."""
    from .quality_model import TRAIN_BUCKET_LT
    from .sampling import _bucket

    from ..plans.topk import persist_bounded

    docs = load_table_docs(spark, sf_dir)
    # r12: every model table beyond `types` is pure arithmetic over
    # `types` itself (c1 = sum of c12 per w1, N1+ counts = type rows per
    # side, T/V = type/vocab counts), so the corpus-sized bigram frame
    # is walked exactly twice (build `types`, score) instead of five
    # times — and stays lazy both times (persisting the wide two-string
    # rows measured slower than recomputing the cheap explode).
    # Identical counts, identical output.
    bg = docs.selectExpr(
        "doc_id", f"explode({_BIGRAMS_T}) AS bg"
    ).selectExpr("doc_id", "bg.w1 AS w1", "bg.w2 AS w2")
    train = bg.where(_bucket(F.col("doc_id")) < TRAIN_BUCKET_LT)
    types = persist_bounded(
        train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    ctx = types.groupBy("w1").agg(
        F.sum("c12").alias("c1"),
        F.count(F.lit(1)).alias("n1p_fwd"),
    )
    cont = types.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bwd"))
    totals = types.agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        F.countDistinct("w2").cast("double").alias("v"),
    )
    d, k = KN_DISCOUNT, LM_ADD_K
    pc = f"(coalesce(n1p_bwd, 0) + {k}) / (t + {k} * (v + 1))"
    scored = (
        bg.join(types, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .join(cont, ["w2"], "left")
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "doc_id",
            "-ln(CASE WHEN c1 IS NOT NULL THEN"
            f" (greatest(coalesce(c12, 0) - {d}, 0D)"
            f"  + {d} * n1p_fwd * ({pc})) / c1"
            f" ELSE ({pc}) END) AS nll",
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
    )


def _kn_bigram_duck() -> str:
    from .quality_model import TRAIN_BUCKET_LT
    from .sampling import _bucket_duck

    d, k = KN_DISCOUNT, LM_ADD_K
    pc = f"(coalesce(cont.n1p_bwd, 0) + {k}) / (t + {k} * (v + 1))"
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM toks, unnest(range(1, len(toks))) AS t(i)
),
train AS (
  SELECT * FROM bg WHERE {_bucket_duck('doc_id')} < {TRAIN_BUCKET_LT}
),
types AS (SELECT w1, w2, count(*) AS c12 FROM train GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1, count(DISTINCT w2) AS n1p_fwd
        FROM train GROUP BY 1),
cont AS (SELECT w2, count(*) AS n1p_bwd FROM types GROUP BY 1),
totals AS (SELECT count(*) * 1.0 AS t,
                  count(DISTINCT w2) * 1.0 AS v FROM types)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(-ln(CASE WHEN ctx.c1 IS NOT NULL THEN
                 (greatest(coalesce(types.c12, 0) - {d}, 0)
                  + {d} * ctx.n1p_fwd * ({pc})) / ctx.c1
                 ELSE ({pc}) END)), 4) AS avg_nll
FROM bg LEFT JOIN types USING (w1, w2) LEFT JOIN ctx USING (w1)
LEFT JOIN cont USING (w2) CROSS JOIN totals
GROUP BY doc_id
"""


# -- per-source distribution diagnostics (round 9) ---------------------------
#
# Data-mixing companions to `source_mix_resample` / `dsir_select`: how
# far each source's unigram distribution sits from the corpus mixture
# (KL divergence — the quantity domain-reweighting schemes like DoReMi
# monitor), and each source's lexical diversity (distinct-1/distinct-2
# token-type ratios, Li et al. 2016 "A Diversity-Promoting Objective").
# Both are one explode + source/vocabulary-sized aggregates — map-side
# shapes that hold at any corpus size.


def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, vocab, kl_vs_corpus): per source s,
    KL(P_s || P_corpus) = sum_w p_s(w)·ln(p_s(w)/p(w)) over the source's
    own support (p_s(w) > 0 implies p(w) > 0 — the source is part of the
    corpus, so the ratio is always finite)."""
    from ..tables import load_table
    from .text_ops import TOKENS

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr("source", f"explode({TOKENS}) AS tok")
    sw = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_sw"))
    w = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_w"))
    s = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    n = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        sw.join(w, "tok")
        .join(s, "source")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "source",
            "n_s",
            "(c_sw / n_s) * ln((c_sw / n_s) / (c_w / n)) AS term",
        )
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.round(F.sum("term"), 4).alias("kl_vs_corpus"),
        )
    )


SOURCE_KL_SQL = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS_DUCK}) AS tok FROM documents
),
sw AS (SELECT source, tok, count(*) AS c_sw FROM toks GROUP BY 1, 2),
w AS (SELECT tok, count(*) AS c_w FROM toks GROUP BY 1),
s AS (SELECT source, count(*) AS n_s FROM toks GROUP BY 1),
n AS (SELECT count(*) * 1.0 AS n FROM toks)
SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
       count(*) AS vocab,
       round(sum((c_sw * 1.0 / n_s) * ln((c_sw * 1.0 / n_s)
                                         / (c_w / n))), 4)
         AS kl_vs_corpus
FROM sw JOIN w USING (tok) JOIN s USING (source) CROSS JOIN n
GROUP BY source
"""


def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, distinct_1, n_bigrams, distinct_2): type/token
    ratios per source — the distinct-n lexical-diversity metric. Low
    ratios flag templated or repetitive sources before they dominate a
    training mix."""
    from ..tables import load_table
    from .text_ops import TOKENS

    # r12 note: measured and left alone. A fan_out_scan before the
    # tokenize was 1.27x WORSE (interleaved A/B medians 0.683 vs 0.867):
    # the regex tokenize here is too cheap for §2.5 to apply — shuffling
    # the text costs more than the single-task partial aggregates — and
    # persisting the token arrays to share one tokenize pass across the
    # two walks was worse still (caching fat string arrays loses to
    # re-tokenizing).
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "source", f"{TOKENS} AS toks"
    )
    uni = docs.selectExpr("source", "explode(toks) AS tok").groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("u1"),
    )
    bi = (
        docs.selectExpr("source", f"explode({_BIGRAMS_T}) AS bg")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("bg.w1", "bg.w2").alias("u2"),
        )
    )
    return (
        uni.join(bi, "source", "left")
        .selectExpr(
            "source",
            "n_tokens",
            "round(u1 / n_tokens, 4) AS distinct_1",
            "coalesce(n_bigrams, 0) AS n_bigrams",
            "CASE WHEN n_bigrams > 0 THEN round(u2 / n_bigrams, 4) END"
            " AS distinct_2",
        )
    )


DISTINCT_NGRAM_SQL = f"""
WITH toks AS (
  SELECT source, {_TOKS_DUCK} AS toks FROM documents
),
uni AS (
  SELECT source, count(*) AS n_tokens, count(DISTINCT tok) AS u1
  FROM (SELECT source, unnest(toks) AS tok FROM toks) GROUP BY 1
),
bi AS (
  SELECT source, count(*) AS n_bigrams,
         count(DISTINCT (w1, w2)) AS u2
  FROM (SELECT source, toks[i] AS w1, toks[i + 1] AS w2
        FROM toks, unnest(range(1, len(toks))) AS t(i))
  GROUP BY 1
)
SELECT source, n_tokens, round(u1 * 1.0 / n_tokens, 4) AS distinct_1,
       coalesce(n_bigrams, 0) AS n_bigrams,
       CASE WHEN n_bigrams > 0
            THEN round(u2 * 1.0 / n_bigrams, 4) END AS distinct_2
FROM uni LEFT JOIN bi USING (source)
"""


KN_BIGRAM_SQL = _kn_bigram_duck()


QUERIES = {
    "boilerplate_shingle_stats": boilerplate_shingle_stats,
    "collocation_pmi_topk": collocation_pmi_topk,
    "ngram_novelty_curve": ngram_novelty_curve,
    "ngram_topk": ngram_topk,
    "duplicate_span_report": duplicate_span_report,
    "duplicate_span_dedup": duplicate_span_dedup,
    "unigram_surprisal": unigram_surprisal,
    "bigram_lm_nll": bigram_lm_nll,
    "kneser_ney_bigram_nll": kneser_ney_bigram_nll,
    "source_unigram_kl": source_unigram_kl,
    "distinct_ngram_diversity": distinct_ngram_diversity,
    "zipf_fit_report": zipf_fit_report,
}

ORACLE = {
    "kneser_ney_bigram_nll": KN_BIGRAM_SQL,
    "source_unigram_kl": SOURCE_KL_SQL,
    "distinct_ngram_diversity": DISTINCT_NGRAM_SQL,
    "boilerplate_shingle_stats": BOILERPLATE_STATS_SQL,
    "ngram_novelty_curve": NGRAM_NOVELTY_SQL,
    "collocation_pmi_topk": COLLOCATION_PMI_SQL,
    "ngram_topk": NGRAM_TOPK_SQL,
    "duplicate_span_report": DUP_SPAN_SQL,
    "duplicate_span_dedup": DUP_SPAN_DEDUP_SQL,
    "unigram_surprisal": UNIGRAM_SURPRISAL_SQL,
    "bigram_lm_nll": BIGRAM_LM_SQL,
    "zipf_fit_report": ZIPF_FIT_SQL,
}
