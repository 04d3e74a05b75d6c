"""Text-analysis operators over the `documents` table — the training-data
pipeline surface (language ID, quality scoring, token counting, document
fingerprinting) built entirely from JVM-side expressions.

No Python UDFs anywhere in this module: tokenization is
regexp_extract_all, shingling is a higher-order-function transform over the
token array, hashing is built-in md5. At 100 TB each query is a single scan
with partial aggregation; nothing shuffles full text, only (key, stats).

Capability context from the reference: the event pipeline's scalar
transform family (snake_case/string normalization
`libs/core-functions/src/functions/lib/strings.ts:11-35`, name sanitization
`ga4-destination.ts:163-166`) establishes string ops as first-class
operators; these extend that family to document corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

# Tokens = maximal runs of non-whitespace; identical regex semantics in
# Spark (Java regex) and DuckDB (RE2) for this pattern.
TOKENS = r"regexp_extract_all(text, '\\S+', 0)"
TOKENS_DUCK = r"regexp_extract_all(text, '\S+')"

# Word 3-gram shingles from a token array `t` (empty when < 3 tokens).
SHINGLES = (
    "CASE WHEN size({t}) >= 3 THEN "
    "transform(sequence(0, size({t}) - 3), i -> concat({t}[i], ' ', {t}[i+1], ' ', {t}[i+2])) "
    "ELSE array() END"
)
SHINGLES_DUCK = (
    "list_transform(range(1, len({t}) - 1), i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])"
)

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SW = ", ".join(f"'{w}'" for w in STOPWORDS)


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword features per document.

    The classic pre-training quality filter (length ratios, symbol ratios,
    stopword presence). Single scan, all expressions inside whole-stage
    codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"size({TOKENS}) AS n_tokens",
        "length(text) AS n_chars_actual",
        # mean token length
        f"round(length(regexp_replace(text, '\\\\s', '')) / size({TOKENS}), 4) AS avg_token_len",
        # punctuation density
        "round(length(regexp_replace(text, '[^.!?,;:]', '')) / length(text), 4) AS punct_ratio",
        # stopword ratio — the strongest single quality signal
        f"round(size(filter({TOKENS}, x -> x IN ({_SW}))) / size({TOKENS}), 4) AS stopword_ratio",
        # unique-token ratio (repetition detector)
        f"round(size(array_distinct({TOKENS})) / size({TOKENS}), 4) AS distinct_ratio",
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       len({TOKENS_DUCK}) AS n_tokens,
       length(text) AS n_chars_actual,
       round(length(regexp_replace(text, '\\s', '', 'g')) / len({TOKENS_DUCK}), 4) AS avg_token_len,
       round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text), 4) AS punct_ratio,
       round(len(list_filter({TOKENS_DUCK}, x -> x IN ({_SW}))) / len({TOKENS_DUCK}), 4) AS stopword_ratio,
       round(len(list_distinct({TOKENS_DUCK})) / len({TOKENS_DUCK}), 4) AS distinct_ratio
FROM documents
"""


def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting grouped by source — the 'how many tokens do
    we have' pipeline query. Partial agg -> tiny shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr("source", f"size({TOKENS}) AS n_tok", "n_chars")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


TOKEN_COUNT_SQL = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len({TOKENS_DUCK})) AS BIGINT) AS total_tokens,
       round(avg(len({TOKENS_DUCK})), 4) AS avg_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram heuristic (deterministic char-frequency scorer).

    Scores by character-class frequencies (the classic n-gram-profile
    approach reduced to its cheapest form); emits the predicted label next
    to the ground-truth `lang` column so accuracy is auditable downstream.
    A statistically trained profile scorer is the pandas-UDF variant
    (lang_id_ngram_udf, rows-only check).
    """
    docs = load_table(spark, sf_dir, "documents")
    e_ratio = "length(regexp_replace(text, '[^e]', '')) / length(text)"
    t_ratio = "length(regexp_replace(text, '[^t]', '')) / length(text)"
    return docs.selectExpr(
        "doc_id",
        "lang",
        f"round({e_ratio}, 4) AS e_ratio",
        f"round({t_ratio}, 4) AS t_ratio",
        f"CASE WHEN {e_ratio} > 0.09 AND {t_ratio} > 0.06 THEN 'en' "
        f"WHEN {e_ratio} > 0.11 THEN 'de' ELSE 'other' END AS lang_pred",
    )


LANG_ID_SQL = """
SELECT doc_id,
       lang,
       round(length(regexp_replace(text, '[^e]', '', 'g')) / length(text), 4) AS e_ratio,
       round(length(regexp_replace(text, '[^t]', '', 'g')) / length(text), 4) AS t_ratio,
       CASE WHEN length(regexp_replace(text, '[^e]', '', 'g')) / length(text) > 0.09
                 AND length(regexp_replace(text, '[^t]', '', 'g')) / length(text) > 0.06 THEN 'en'
            WHEN length(regexp_replace(text, '[^e]', '', 'g')) / length(text) > 0.11 THEN 'de'
            ELSE 'other' END AS lang_pred
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min-hash-of-shingles fingerprint (winnowing's
    'min hash in window' reduced to whole-doc min) + shingle count.

    The fingerprint column is a join key for corpus-level near-dup lookups;
    computing it is one scan, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Tokenize ONCE behind a projection boundary: `toks` is referenced many
    # times by the shingle transform (including inside its lambda), and
    # inlining the regexp would re-run it per element — O(tokens^2) per doc
    # (CollapseProject keeps multi-referenced non-cheap aliases projected).
    toks = docs.selectExpr("doc_id", f"{TOKENS} AS toks")
    sh = SHINGLES.format(t="toks")
    shingled = toks.selectExpr("doc_id", f"{sh} AS shingles")
    return shingled.selectExpr(
        "doc_id",
        "array_min(transform(shingles, s -> md5(s))) AS fingerprint",
        "size(shingles) AS n_shingles",
    )


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_min(list_transform({SHINGLES_DUCK.format(t=TOKENS_DUCK)}, s -> md5(s))) AS fingerprint,
       len({SHINGLES_DUCK.format(t=TOKENS_DUCK)}) AS n_shingles
FROM documents
"""


# BPE-style pre-tokenizer: letter runs / digit runs / punctuation runs,
# each with an optional leading space (the GPT-2 pattern minus its
# lookahead clauses, which RE2 cannot run). Unicode classes \p{L}/\p{N}
# behave identically in Java regex and RE2 for this alternation.
BPE_PAT = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
# Spark SQL string literals process backslash escapes; DuckDB's don't.
_BPE_SPARK = BPE_PAT.replace("\\", "\\\\")


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-grade corpus accounting: BPE-pretoken counts per doc next
    to whitespace-token counts — the 'how many tokens will the tokenizer
    actually see' estimate (punctuation splits, digit runs). Single scan,
    both counts from one pass, all JVM-side regex."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "source",
        f"size({TOKENS}) AS n_ws_tokens",
        f"size(regexp_extract_all(text, '{_BPE_SPARK}', 0)) AS n_bpe_tokens",
        f"round(size(regexp_extract_all(text, '{_BPE_SPARK}', 0))"
        f" / size({TOKENS}), 4) AS bpe_per_ws",
    )


BPE_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       source,
       len({TOKENS_DUCK}) AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_PAT}')) AS n_bpe_tokens,
       round(len(regexp_extract_all(text, '{BPE_PAT}')) / len({TOKENS_DUCK}), 4)
         AS bpe_per_ws
FROM documents
"""


# URL extraction (the C4 provenance/domain-stats shape). The corpus'
# synthetic text carries no URLs, so the registry query reports per-source
# zero counts — the operator itself is exercised on URL-bearing fixtures in
# tests/test_quality_filters.py.
URL_PAT = r"https?://[^\s]+"
_URL_SPARK = URL_PAT.replace("\\", "\\\\")


def url_stats_df(docs: DataFrame) -> DataFrame:
    """Core projection: per-doc URL count + first domain (provenance key)."""
    return docs.selectExpr(
        "doc_id",
        f"size(regexp_extract_all(text, '{_URL_SPARK}', 0)) AS n_urls",
        f"regexp_extract(text, 'https?://([^/\\\\s]+)', 1) AS first_domain",
    )


def url_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source URL density — scan-side aggregation, tiny shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "source", f"size(regexp_extract_all(text, '{_URL_SPARK}', 0)) AS n_urls"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_urls").cast("long").alias("total_urls"),
            F.sum((F.col("n_urls") > 0).cast("long")).cast("long").alias(
                "docs_with_urls"
            ),
        )
    )


URL_STATS_SQL = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '{URL_PAT}'))) AS BIGINT)
         AS total_urls,
       CAST(sum(CASE WHEN len(regexp_extract_all(text, '{URL_PAT}')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_urls
FROM documents
GROUP BY source
"""


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram in power-of-two buckets — the shard-planning
    query ('how many sequences land in each padding bucket'). Scan-side
    bucket assignment, tiny aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            f"CAST(floor(log2(greatest(size({TOKENS}), 1))) AS BIGINT)"
            " AS log2_bucket",
            f"size({TOKENS}) AS n_tok",
        )
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
    )


LENGTH_HISTOGRAM_SQL = f"""
SELECT CAST(floor(log2(greatest(len({TOKENS_DUCK}), 1))) AS BIGINT)
         AS log2_bucket,
       count(*) AS n_docs,
       CAST(sum(len({TOKENS_DUCK})) AS BIGINT) AS total_tokens,
       CAST(min(len({TOKENS_DUCK})) AS BIGINT) AS min_tokens,
       CAST(max(len({TOKENS_DUCK})) AS BIGINT) AS max_tokens
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# BM25 top-k retrieval (round 7) — keyword search over the corpus, the
# retrieval primitive behind quality-by-retrieval curation and benchmark
# decontamination lookups (Robertson & Zaragoza 2009; idf in the Lucene
# form ln(1 + (N - df + 0.5)/(df + 0.5)) so scores stay positive).
#
# Scale: the token array is filtered to the query vocabulary BEFORE the
# explode, so only matching postings leave the scan; document-frequency
# and corpus stats are query-vocabulary-sized (broadcast); ranking is the
# two-phase value-histogram top-k — the per-query exact row_number sort
# runs over at most (k + ties) candidate rows, never the full posting
# list, so no single task ever sorts a query's whole match set.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERIES = {
    1: ("spark", "window", "merge"),
    2: ("hash", "join", "order"),
}

# Identical formula text on both engines: ln/arithmetic diverge at most
# 1 ulp cross-engine, absorbed by the round-4 on the summed score.
_BM25_TERM = (
    f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ({BM25_K1} + 1.0)"
    f" / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
)


# One frame per session (r12): the 2-query set is a compile-time
# constant, but re-creating the local relation each call gives it a NEW
# semanticHash (LocalRelation fingerprints are instance-specific), which
# would defeat the vocab memo below every bench pass.
_DEFAULT_QUERIES: dict[tuple, DataFrame] = {}


def _default_queries_df(spark: SparkSession) -> DataFrame:
    """The registry's fixed 2-query set as a (query_id, text) frame —
    the same shape callers pass for arbitrary query workloads."""
    key = (id(spark), spark.sparkContext.applicationId)
    df = _DEFAULT_QUERIES.get(key)
    if df is None:
        if len(_DEFAULT_QUERIES) > 8:
            _DEFAULT_QUERIES.clear()
        df = spark.createDataFrame(
            [(qid, " ".join(terms)) for qid, terms in BM25_QUERIES.items()],
            "query_id int, text string",
        )
        _DEFAULT_QUERIES[key] = df
    return df


def workload_queries_df(
    docs_tbl: DataFrame, n_queries: int = 1000, vocab: int = 300
) -> DataFrame:
    """A deterministic n-query retrieval workload built from the
    corpus's most common tokens (round 9, VERDICT r8 #9): the ad-hoc
    probe behind BASELINE.md's parameterized-retrieval table, promoted
    to a bench fixture so `bm25_topk_df` / `hybrid_search_rrf_df`
    growth is tracked round-over-round. Query i writes itself in base v
    (v = actual vocabulary size, which on the synthetic corpus is ~31,
    far below the `vocab` cap): digits (a, b, c) select the three token
    positions as (a, a+b+1 mod v, a+c+2 mod v), which is injective for
    any v — given the text, a is position 1 and b, c recover uniquely —
    so no two query TEXTS repeat for any n_queries <= v^3 (round-9
    review finding #3 found period-v repeats; the first fix's v^2
    capacity then underflowed the real 31-token vocabulary). Queries
    still share tokens heavily (the postings-amortization case). Only
    the `vocab` token strings collect — bounded."""
    spark = docs_tbl.sparkSession
    top = [
        r["tok"]
        for r in docs_tbl.selectExpr(f"explode({TOKENS}) AS tok")
        .groupBy("tok")
        .count()
        .orderBy(F.desc("count"), F.asc("tok"))
        .limit(vocab)
        .collect()
    ]
    v = len(top)
    if n_queries > v**3:
        raise ValueError(
            f"n_queries={n_queries} exceeds the {v**3} distinct"
            f" 3-token combinations a {v}-token vocabulary guarantees"
        )
    rows = []
    for i in range(n_queries):
        a, b, c = i % v, (i // v) % v, i // (v * v)
        rows.append(
            (
                i,
                f"{top[a]} {top[(a + b + 1) % v]} {top[(a + c + 2) % v]}",
            )
        )
    return spark.createDataFrame(rows, "query_id int, text string")


def _query_terms(queries: DataFrame) -> DataFrame:
    """(query_id, tok): whitespace-split query terms."""
    return queries.selectExpr(
        "query_id", r"explode(split(text, '\\s+')) AS tok"
    ).distinct()


# Query-vocab memo (r12): every BM25-family construction re-ran the
# explode+distinct+collect vocab job (~0.3 s) even for the fixed 2-query
# registry set. Keyed on the query plan's semanticHash (for local
# relations that hash covers the literal rows) PLUS an mtime/size token
# per input file (for plans derived from parquet, so a rewritten fixture
# at the same path is never served a stale vocabulary) — the same
# freshness discipline as tables.load_table. The vocab is metadata-scale
# (bounded by the query set), never corpus data.
_VOCAB_MEMO: dict[tuple, list[str]] = {}
_VOCAB_MEMO_CAP = 64


def _query_vocab(queries: DataFrame) -> list[str]:
    """Distinct query terms, collected driver-side to parameterize the
    pre-explode token filter. Bounded by the QUERY SET (a 10^3-query
    workload is a few thousand strings — metadata-scale), never the
    corpus; Spark compiles the >10-element IN to an InSet hash probe.
    Terms are SQL-escaped before literal interpolation — queries_df is
    caller data, not trusted expression text (r8 review finding)."""
    from ..plans.store_memo import plan_fingerprint

    key = plan_fingerprint(queries)
    if key is not None and key in _VOCAB_MEMO:
        return _VOCAB_MEMO[key]
    rows = (
        _query_terms(queries).select("tok").distinct().collect()
    )
    vocab = sorted(
        r["tok"].replace("\\", "\\\\").replace("'", "\\'") for r in rows
    )
    if key is not None:
        if len(_VOCAB_MEMO) >= _VOCAB_MEMO_CAP:
            _VOCAB_MEMO.clear()
        _VOCAB_MEMO[key] = vocab
    return vocab


def _bm25_scored(docs_tbl: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, doc_id, score, n_matched): BM25 score of every matching
    document against every query — the shared sparse-retrieval arm.
    `n_matched` (distinct query terms the doc contains) rides the same
    aggregate for free — the hard-negative miner consumes it, the top-k
    and hybrid callers ignore it (ONE scoring implementation, r11 review).

    One filtered explode builds the postings; df/N/avgdl fold in as
    broadcast dims (df is bounded by the query vocabulary BY
    CONSTRUCTION, so its broadcast is unconditional).

    Partitioning (r12): the narrow (doc_id, text) projection is hashed
    by doc_id ONCE before tokenization. hash(doc_id) satisfies every
    downstream grouping — tf's (doc_id, dl, tok) and the post-join
    (query_id, doc_id) score aggregate (doc_id is a subset of both key
    sets) — so the exploded postings and the query-joined score rows
    NEVER shuffle; the previous shape exchanged the posting rows once
    and the joined (query, doc, term) rows again (the widest frame in
    the plan, ~q-per-term x postings rows). The one remaining exchange
    carries raw doc rows, which also spreads tokenization across the
    cluster instead of inheriting the scan's split count."""
    lits = ", ".join(f"'{t}'" for t in _query_vocab(queries))
    # Explicit partition count: AQE would coalesce this exchange from its
    # BYTE size (doc rows are narrow) into a handful of partitions,
    # oblivious to the token explosion it feeds — measured as the whole
    # posting build collapsing into one task. A user-specified N is
    # exempt from coalescing; defaultParallelism scales with the cluster.
    n_part = docs_tbl.sparkSession.sparkContext.defaultParallelism
    docs = (
        docs_tbl.select("doc_id", "text")
        .repartition(n_part, "doc_id")
        .selectExpr("doc_id", f"{TOKENS} AS toks")
    )
    # r12: ONE tokenize pass. The postings build and the corpus-stats
    # broadcast each walked the tokenize lineage (ReuseExchange shares
    # the doc exchange, but the tokenize projection sits ABOVE it and
    # re-ran per consumer). A persisted skinny "lens" frame — doc_id,
    # doc length, and the vocabulary-filtered token array (bounded by
    # the query vocab BY CONSTRUCTION) — now feeds both: the postings
    # explode off it, and stats folds count/avg(dl) over it (guide §5 —
    # reuse; §2.3 — the persist holds filtered tokens, never full text).
    from ..plans.topk import persist_bounded

    # Scale note (r13, ADVICE r12 #3): "bounded by the query vocab" holds
    # for ROW WIDTH only — lens has one row per corpus document, so at
    # very large corpora this persist is corpus-row-count cache pressure
    # (narrow rows: id, int, filtered-token array). It cannot be derived
    # from tf (tf only covers docs containing query terms; stats needs
    # every doc). persist() keeps lineage, so block-manager eviction under
    # pressure merely recomputes — the persist is an optimization, never a
    # correctness dependency.
    lens = persist_bounded(
        docs.selectExpr(
            "doc_id",
            "size(toks) AS dl",
            f"filter(toks, x -> x IN ({lits})) AS qtoks",
        )
    )
    tf = persist_bounded(
        lens.selectExpr("doc_id", "dl", "explode(qtoks) AS tok")
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(F.broadcast(_query_terms(queries)), "tok")
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .selectExpr("query_id", "doc_id", f"{_BM25_TERM} AS s")
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("s"), 4).alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )


def bm25_topk_df(
    docs_tbl: DataFrame, queries: DataFrame, k: int = BM25_TOPK
) -> DataFrame:
    """(query_id, doc_id, score, rank): BM25 top-k documents per query
    for an ARBITRARY (query_id, text) workload — the parameterized
    surface (r8); the registry entry is this over the fixed 2-query set.
    The exact rank runs through the salted two-level shape
    (`plans.topk.salted_topk`): BM25 scores are near-distinct floats, so
    the histogram form's (group, score) pass degenerated to one row per
    candidate (r12); the salted form bounds any hot query's candidates
    at n_salts * k with one pass over the scored frame."""
    from ..plans.topk import salted_topk

    return salted_topk(
        _bm25_scored(docs_tbl, queries), "query_id", "score", k, "doc_id"
    ).select("query_id", "doc_id", "score", "rank")


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: BM25 top-10 over the fixed query set."""
    return bm25_topk_df(
        load_table(spark, sf_dir, "documents"), _default_queries_df(spark)
    )


def _bm25_scored_ctes() -> str:
    """DuckDB CTE list ending in `scored(query_id, doc_id, score)` —
    shared by the BM25 oracle and the hybrid-fusion oracle."""
    terms = sorted({t for q in BM25_QUERIES.values() for t in q})
    lits = ", ".join(f"'{t}'" for t in terms)
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, q in BM25_QUERIES.items() for t in q
    )
    return f"""toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
),
stats AS (
  SELECT count(*) * 1.0 AS n_docs, avg(len(toks)) AS avgdl FROM toks
),
tf AS (
  SELECT doc_id, len(toks) AS dl, tok, count(*) AS tf
  FROM toks, unnest(list_filter(toks, x -> x IN ({lits}))) AS u(tok)
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
qd AS (SELECT * FROM (VALUES {qvals}) AS t(query_id, tok)),
scored AS (
  SELECT query_id, doc_id, round(sum({_BM25_TERM}), 4) AS score
  FROM tf JOIN qd USING (tok) JOIN dfreq USING (tok) CROSS JOIN stats
  GROUP BY 1, 2
)"""


BM25_TOPK_SQL = f"""
WITH {_bm25_scored_ctes()}
SELECT query_id, doc_id, score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id) AS rank
FROM scored
QUALIFY rank <= {BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# Hard-negative mining for retrieval training (Karpukhin et al. 2020, DPR
# §3.2): contrastive training needs, per query, the highest-BM25-scoring
# documents that are NOT fully relevant — here "fully relevant" is the
# lexical-containment criterion (document matches ALL query terms), so a
# hard negative is a top-scoring partial match (the lexical-gap documents
# a dense retriever must learn to rank below true positives).
#
# The matched-term count rides the SAME aggregate as the BM25 score (the
# postings rows are distinct per (query, doc, term) by construction), so
# mining costs one extra broadcast join over `bm25_topk`'s plan; the
# exact rank runs through the salted two-level shape
# (`plans.topk.salted_topk`) — never a full per-group candidate sort.
# ---------------------------------------------------------------------------


def bm25_hard_negatives_df(
    docs_tbl: DataFrame, queries: DataFrame, k: int = BM25_TOPK
) -> DataFrame:
    """(query_id, doc_id, score, n_matched, rank): top-k BM25-scored
    PARTIAL matches per query — the hard-negative candidates. Shares
    `_bm25_scored` with the top-k/hybrid callers (one scoring
    implementation); only the partial-match filter and rank differ."""
    from ..plans.topk import salted_topk

    qn = _query_terms(queries).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_qterms")
    )
    negs = _bm25_scored(docs_tbl, queries).join(
        F.broadcast(qn), "query_id"
    ).where("n_matched < n_qterms")
    return salted_topk(negs, "query_id", "score", k, "doc_id").select(
        "query_id", "doc_id", "score", "n_matched", "rank"
    )


def bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: hard negatives over the fixed query set."""
    return bm25_hard_negatives_df(
        load_table(spark, sf_dir, "documents"), _default_queries_df(spark)
    )


BM25_HARD_NEGATIVES_SQL = f"""
WITH {_bm25_scored_ctes()},
matched AS (
  SELECT query_id, doc_id, count(*) AS n_matched
  FROM tf JOIN qd USING (tok)
  GROUP BY 1, 2
),
qn AS (SELECT query_id, count(*) AS n_qterms FROM qd GROUP BY 1)
SELECT query_id, doc_id, score, n_matched,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id) AS rank
FROM scored
JOIN matched USING (query_id, doc_id)
JOIN qn USING (query_id)
WHERE n_matched < n_qterms
QUALIFY rank <= {BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval with reciprocal-rank fusion (round 7) — the standard
# production search stack: a sparse BM25 arm and a dense embedding arm
# each retrieve top-20, then RRF (Cormack et al. 2009; k = 60) fuses the
# lists: rrf(d) = sum over arms of 1 / (k + rank_arm(d)). The dense arm
# scores cosine between the corpus's feature-hash embeddings
# (`text_embed._bucket_sums`, model-free) and the SAME hashing applied to
# the query text — so both arms are derived purely in-engine.
#
# Determinism: arm ranks are integers, 1/(60+rank) is the same double on
# every engine, and the fused score is a sum of at most two such terms —
# bit-identical, no rounding risk. Scale: each arm's rank runs through
# `salted_topk` (no full posting/candidate sort); the dense dot joins
# skinny integer (id, dim, v) triples with the query side broadcast; the
# fusion joins two <= 20-row-per-query lists.
# ---------------------------------------------------------------------------

HYBRID_ARM_K = 20
HYBRID_FUSED_K = 10
RRF_K = 60


def _dense_scored(docs_tbl: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, doc_id, sim): hash-embedding cosine of every document
    sharing >= 1 hash bucket with the query text (no shared bucket =
    zero similarity = never retrievable, so absent rows are exact)."""
    from ..plans.topk import persist_bounded
    from .text_embed import _bucket_sums

    # r12: persist the hashed-dim sums — (doc_id, dim, v) integer rows
    # bounded by n_docs x 64 dims; the norm aggregate and the dot join
    # each re-ran the tokenize + hash + aggregate lineage.
    dsums = persist_bounded(_bucket_sums(docs_tbl))
    dnorm = dsums.groupBy("doc_id").agg(
        F.expr("sqrt(CAST(sum(v * v) AS DOUBLE))").alias("dn")
    )
    qsums = _bucket_sums(
        queries.selectExpr("query_id AS doc_id", "text")
    ).selectExpr("doc_id AS query_id", "dim", "v AS qv")
    qnorm = qsums.groupBy("query_id").agg(
        F.expr("sqrt(CAST(sum(qv * qv) AS DOUBLE))").alias("qn")
    )
    dots = (
        dsums.join(F.broadcast(qsums), "dim")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qv") * F.col("v")).alias("dot"))
    )
    return (
        dots.join(F.broadcast(qnorm), "query_id")
        .join(dnorm, "doc_id")
        .where("qn > 0 AND dn > 0")
        .selectExpr("query_id", "doc_id", "round(dot / (qn * dn), 6) AS sim")
    )


def hybrid_search_rrf_df(
    docs_tbl: DataFrame,
    queries: DataFrame,
    arm_k: int = HYBRID_ARM_K,
    fused_k: int = HYBRID_FUSED_K,
) -> DataFrame:
    """(query_id, doc_id, sparse_rank, dense_rank, rrf, rank): top-k
    fused results per query for an ARBITRARY (query_id, text) workload —
    the parameterized surface (r8); a NULL arm rank means the document
    was outside that arm's top-`arm_k`."""
    # Every rank runs through the salted two-level shape (r12): each arm
    # walks its scored frame ONCE (window -> filter -> window), so the
    # r7-r11 persist-the-shortlist step — needed when the histogram rank
    # walked its input lineage twice — is gone along with the histogram
    # passes themselves (float scores made those histograms
    # candidate-sized).
    from ..plans.topk import salted_topk

    sparse = salted_topk(
        _bm25_scored(docs_tbl, queries),
        "query_id",
        "score",
        arm_k,
        "doc_id",
    ).selectExpr("query_id", "doc_id", "rank AS sparse_rank")
    dense = salted_topk(
        _dense_scored(docs_tbl, queries),
        "query_id",
        "sim",
        arm_k,
        "doc_id",
    ).selectExpr("query_id", "doc_id", "rank AS dense_rank")
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer").selectExpr(
        "query_id",
        "doc_id",
        "sparse_rank",
        "dense_rank",
        f"coalesce(1.0D / ({RRF_K} + sparse_rank), 0.0D)"
        f" + coalesce(1.0D / ({RRF_K} + dense_rank), 0.0D) AS rrf",
    )
    return salted_topk(
        fused, "query_id", "rrf", fused_k, "doc_id"
    ).select("query_id", "doc_id", "sparse_rank", "dense_rank", "rrf", "rank")


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: hybrid top-10 over the fixed query set."""
    return hybrid_search_rrf_df(
        load_table(spark, sf_dir, "documents"), _default_queries_df(spark)
    )


def _hybrid_duck() -> str:
    qvals_text = ", ".join(
        f"({qid}, '{' '.join(terms)}')"
        for qid, terms in BM25_QUERIES.items()
    )
    dim = (
        "CAST(('0x' || substr(md5(tok), 1, 7))::UBIGINT AS BIGINT)"
        f" % {64}"
    )
    sign = (
        "CASE WHEN CAST(('0x' || substr(md5(tok), 8, 1))::UBIGINT AS BIGINT)"
        " % 2 = 0 THEN 1 ELSE -1 END"
    )
    return f"""
WITH {_bm25_scored_ctes()},
sparse AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS sparse_rank
  FROM scored
  QUALIFY sparse_rank <= {HYBRID_ARM_K}
),
dtoks AS (SELECT doc_id, unnest({TOKENS_DUCK}) AS tok FROM documents),
dsums AS (
  SELECT doc_id, {dim} AS dim, sum({sign}) AS v FROM dtoks GROUP BY 1, 2
),
dnorm AS (SELECT doc_id, sqrt(sum(v * v)) AS dn FROM dsums GROUP BY 1),
qtext AS (SELECT * FROM (VALUES {qvals_text}) AS t(query_id, text)),
qtoks AS (
  SELECT query_id, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM qtext
),
qsums AS (
  SELECT query_id, {dim} AS dim, sum({sign}) AS qv FROM qtoks GROUP BY 1, 2
),
qnorm AS (SELECT query_id, sqrt(sum(qv * qv)) AS qn FROM qsums GROUP BY 1),
dots AS (
  SELECT query_id, doc_id, sum(qv * v) AS dot
  FROM dsums JOIN qsums USING (dim) GROUP BY 1, 2
),
dense_scored AS (
  SELECT query_id, doc_id, round(dot / (qn * dn), 6) AS sim
  FROM dots JOIN qnorm USING (query_id) JOIN dnorm USING (doc_id)
  WHERE qn > 0 AND dn > 0
),
dense AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id) AS dense_rank
  FROM dense_scored
  QUALIFY dense_rank <= {HYBRID_ARM_K}
),
fused AS (
  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         coalesce(s.doc_id, d.doc_id) AS doc_id,
         s.sparse_rank, d.dense_rank,
         coalesce(1.0 / ({RRF_K} + s.sparse_rank), 0.0)
         + coalesce(1.0 / ({RRF_K} + d.dense_rank), 0.0) AS rrf
  FROM sparse s FULL OUTER JOIN dense d
    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
)
SELECT query_id, doc_id, sparse_rank, dense_rank, rrf,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf DESC, doc_id) AS rank
FROM fused
QUALIFY rank <= {HYBRID_FUSED_K}
"""


HYBRID_RRF_SQL = _hybrid_duck()




# ---------------------------------------------------------------------------
# Winnowing fingerprints (round 8; Schleimer, Wilkerson & Aiken 2003,
# "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
# algorithm). `doc_fingerprint` reduces a document to ONE min-hash;
# winnowing keeps the minimum of every sliding window of k-gram hashes,
# guaranteeing any shared substring of length >= w + k - 1 contributes a
# shared fingerprint — the local property whole-doc minima lack, and the
# standard unit for substring-level plagiarism/overlap lookups.
#
# Tie rule: the RIGHTMOST minimal hash per window (the paper's robust
# winnowing), encoded so both engines agree bit-for-bit: each position's
# (hash, pos) packs into one BIGINT hash * 2^20 + (2^20 - 1 - pos) whose
# window MIN is exactly (min hash, max pos). Positions cap at 2^20 - 1
# tokens per doc (1M — far above any real document; longer docs raise).
#
# Scale: one positional k-gram explode + one doc-keyed window (frame
# bounded by W) + a distinct — the duplicate_span shape; no cross-doc
# work at fingerprint time (lookups join on fp downstream).
# ---------------------------------------------------------------------------

WINNOW_K = 3  # k-gram width (the shingle unit the dedup family uses)
WINNOW_W = 4  # window: every w consecutive k-grams yield a fingerprint
_POS_BITS = 20
_MAX_POS = (1 << _POS_BITS) - 1


def _kgram_spark(k: int) -> str:
    """transform() expression building word k-grams from `toks` — the
    SHINGLES template generalized to any k (so WINNOW_K is live, not
    decorative — r8 review finding)."""
    joined = ", ' ', ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(k))
    return (
        f"CASE WHEN size(toks) >= {k} THEN"
        f" transform(sequence(0, size(toks) - {k}),"
        f" i -> concat({joined}))"
        " ELSE array() END"
    )


def _kgram_duck(k: int) -> str:
    joined = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(k))
    return joined


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, fp): the selected (position, k-gram-hash)
    fingerprints per document — ~2/(w+1) of the gram count. Documents
    shorter than k tokens have no row (no gram to fingerprint);
    documents with more than 2^20 grams raise (the packed-key position
    budget — silently wrapping would corrupt fingerprints)."""
    from pyspark.sql import Window

    # r12: the gram explode + md5 ran in the single-split scan task
    # (guide §2.5) and the winnow window's hash(doc_id) exchange then
    # carried the EXPLODED gram rows. Hash the narrow projection by
    # doc_id before tokenizing: the heavy work fans out, the one
    # exchange moves raw text instead of grams (§2.3), and both the
    # window and the final distinct are satisfied by the partitioning —
    # no further exchange in the plan.
    n_part = spark.sparkContext.defaultParallelism
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(n_part, "doc_id")
        .selectExpr("doc_id", f"{TOKENS} AS toks")
    )
    grams = docs.selectExpr(
        "doc_id",
        f"posexplode({_kgram_spark(WINNOW_K)}) AS (pos, gram)",
    ).selectExpr(
        "doc_id",
        "pos",
        # 28-bit hash from the md5 hex prefix (the minhash convention)
        "CAST(conv(substring(md5(gram), 1, 7), 16, 10) AS BIGINT) AS h",
    )
    packed = grams.selectExpr(
        "doc_id",
        "pos",
        # fail LOUDLY past the position budget instead of borrowing hash
        # bits (r8 review finding): a >1M-gram document needs a wider
        # packing, not silent corruption
        f"CASE WHEN pos > {_MAX_POS} THEN"
        f" CAST(raise_error('winnowing: document exceeds {_MAX_POS}"
        " grams — packed-key position budget') AS BIGINT)"
        f" ELSE h * {1 << _POS_BITS}L + ({_MAX_POS}L - pos) END AS key",
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    selected = (
        packed.withColumn("win_min", F.min("key").over(w))
        # windows that extend past the last gram are the paper's final
        # partial windows — EXCLUDED (only full windows select), so the
        # fingerprint set is a pure function of the gram sequence
        .withColumn(
            "full",
            F.col("pos")
            <= F.max("pos").over(Window.partitionBy("doc_id"))
            - (WINNOW_W - 1),
        )
        .where("full")
        .selectExpr(
            "doc_id",
            f"CAST({(1 << _POS_BITS) - 1}L - (win_min % {1 << _POS_BITS}L)"
            " AS INT) AS pos",
            f"win_min DIV {1 << _POS_BITS}L AS fp",
        )
        .distinct()
    )
    return selected


WINNOWING_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS toks FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         CAST(('0x' || substr(md5({_kgram_duck(WINNOW_K).replace('toks[i+', 'toks[i +')}), 1, 7))::UBIGINT
           AS BIGINT) AS h
  FROM toks, unnest(range(1, len(toks) - {WINNOW_K - 2})) AS t(i)
),
packed AS (
  SELECT doc_id, pos,
         CASE WHEN pos > {_MAX_POS} THEN
           CAST(error('winnowing: document exceeds position budget') AS BIGINT)
         ELSE h * {1 << _POS_BITS} + ({_MAX_POS} - pos) END AS key
  FROM grams
),
winmin AS (
  SELECT doc_id, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W - 1} FOLLOWING) AS win_min,
         max(pos) OVER (PARTITION BY doc_id) AS max_pos
  FROM packed
)
SELECT DISTINCT doc_id,
       CAST({_MAX_POS} - (win_min % {1 << _POS_BITS}) AS INT)
         AS pos,
       win_min // {1 << _POS_BITS} AS fp
FROM winmin
WHERE pos <= max_pos - {WINNOW_W - 1}
"""




# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (round 8) — the classic per-document salient-
# term summary (Sparck Jones 1972): score(t, d) = tf(t,d) * ln(N / df(t)),
# top-K terms per document. The metadata enrichment step corpus catalogs
# and near-dup triage UIs attach to every document.
#
# Scale: one token explode -> (doc, term) tf counts (partial-agg); the df
# table is vocabulary-sized and joins back by broadcast; the per-doc rank
# window partitions BY doc_id — each frame is bounded by the document's
# own vocabulary, so no task ever sorts more than one document's terms.
# ---------------------------------------------------------------------------

TFIDF_TOPK = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, tf, score, rank): each document's TFIDF_TOPK most
    salient terms; ties break on term ASC (deterministic)."""
    from pyspark.sql import Window

    from ..plans.topk import persist_bounded

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # r12: hash the narrow projection by doc_id (the tokenize+explode
    # ran in the single-split scan task — guide §2.5 — and hash(doc_id)
    # makes the tf aggregate and the rank window exchange-free), and
    # persist the aggregated tf frame: dfreq and scored each walked its
    # explode lineage. Unlike fat token arrays (measured losses on
    # other entries), tf is post-aggregation skinny — interleaved A/B
    # medians: orig 1.285, repartition 1.212, repartition+persist 1.045.
    n_part = spark.sparkContext.defaultParallelism
    tf = persist_bounded(
        docs.select("doc_id", "text")
        .repartition(n_part, "doc_id")
        .selectExpr("doc_id", f"explode({TOKENS}) AS term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "doc_id",
            "term",
            "tf",
            # CAST(...AS DOUBLE), not a decimal literal; + 0.0 for -0.0
            "round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) + 0.0 AS score",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= TFIDF_TOPK
    )


TFIDF_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({TOKENS_DUCK}) AS term FROM documents)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) + 0.0 AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, score, rank FROM (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOPK}
"""


QUERIES = {
    "text_quality_score": text_quality_score,
    "tfidf_top_terms": tfidf_top_terms,
    "winnowing_fingerprints": winnowing_fingerprints,
    "token_count_by_source": token_count_by_source,
    "lang_id_heuristic": lang_id_heuristic,
    "doc_fingerprint": doc_fingerprint,
    "bpe_token_count": bpe_token_count,
    "url_stats_by_source": url_stats_by_source,
    "length_histogram": length_histogram,
    "bm25_topk": bm25_topk,
    "bm25_hard_negatives": bm25_hard_negatives,
    "hybrid_search_rrf": hybrid_search_rrf,
}

ORACLE = {
    "text_quality_score": TEXT_QUALITY_SQL,
    "token_count_by_source": TOKEN_COUNT_SQL,
    "lang_id_heuristic": LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "winnowing_fingerprints": WINNOWING_SQL,
    "tfidf_top_terms": TFIDF_SQL,
    "bpe_token_count": BPE_TOKEN_COUNT_SQL,
    "url_stats_by_source": URL_STATS_SQL,
    "length_histogram": LENGTH_HISTOGRAM_SQL,
    "bm25_topk": BM25_TOPK_SQL,
    "bm25_hard_negatives": BM25_HARD_NEGATIVES_SQL,
    "hybrid_search_rrf": HYBRID_RRF_SQL,
}
