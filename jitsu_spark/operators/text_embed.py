"""Feature-hashed document embeddings: deterministic text -> vector
projection entirely in-engine, so raw text corpora enter embedding space
(cluster curation, ANN dedup, similarity search) WITHOUT an external
model or a Python UDF.

The classic hashing trick (Weinberger et al., "Feature Hashing for
Large Scale Multitask Learning", ICML 2009; sklearn HashingVectorizer):
each token hashes to one of EMBED_DIM buckets with a +/-1 sign drawn
from an independent hash bit; a document's vector is the signed bucket
count, L2-normalized. Cosine between such vectors approximates token
multiset overlap — exactly the signal semantic near-dup and topic
clustering need on raw text — and the projection is stateless: no
vocabulary, no training, no drift between batches.

Determinism contract: bucket = 28-bit md5 prefix mod EMBED_DIM and sign
= md5 hex digit 8 mod 2 are exact integer arithmetic on both engines
(the `sampling._bucket` convention); bucket sums are integer; the only
float ops are one normalization (sum of exact integer squares ->
correctly-rounded sqrt -> per-element divide) rounded to 6 decimals —
bit-identical in Spark and the DuckDB oracle.

Scale: the Spark side is ZERO-SHUFFLE — tokens never explode; each row
folds its own token array with higher-order functions (transform +
filter sizes), so embedding 100 TB of text is a single map-side scan.
Cost is O(tokens x EMBED_DIM) per doc (the dense form trades a shuffle
for arithmetic; at EMBED_DIM=64 that is ~12k predicate evals for a
100-token doc). The SQL oracle uses the equivalent explode + group-by
form — same integers, same result.

CONSUMER CONTRACT: the `embedding` column of `feature_hash_embed` is a
live HOF expression, not data. A consumer that references it more than
once per row (a norm projection references it 3x; the K-way
centroid-assignment fold K more) re-evaluates the whole hash chain per
reference, and the blowup compounds MULTIPLICATIVELY through stacked
projections — measured minutes-vs-seconds at 500 docs. Materialize the
RAW output first (cache()+count(), or write parquet and read back —
what a 100 TB pipeline does anyway: embed once, store, then curate)
BEFORE adding derived projections. Single-pass consumers (the registry
explode, one similarity score per row) can stay unmaterialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .text_ops import TOKENS, TOKENS_DUCK

EMBED_DIM = 64

# per-token (bucket, sign) from two independent md5 slices — exact
# integer arithmetic, identical bits on both engines
_HASHES = f"""
transform({TOKENS}, t -> named_struct(
  'b', CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT) % {EMBED_DIM},
  's', CASE WHEN CAST(conv(substring(md5(t), 8, 1), 16, 10) AS BIGINT) % 2 = 0
            THEN 1 ELSE -1 END))
"""

# Signed bucket count as count(+1 hits) - count(-1 hits): two `filter`
# sizes per dim instead of an `aggregate` fold — measured ~1000x faster
# (0.3 s vs 380 s for 500 docs; the nested aggregate-in-transform fold
# evaluates pathologically in Spark's interpreted HOF path), and exact
# integer arithmetic either way.
_RAW_VEC = f"""
transform(sequence(0, {EMBED_DIM - 1}), i ->
  CAST(size(filter(hashes, h -> h.b = i AND h.s = 1))
       - size(filter(hashes, h -> h.b = i AND h.s = -1)) AS DOUBLE))
"""


def feature_hash_embed(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *keep, embedding array<double>): signed-hash bucket
    counts over whitespace tokens, L2-normalized (all-zero vectors —
    empty docs — stay zero). One map-side scan, no explode, no shuffle.
    This is the library API downstream semantic ops consume; the registry
    entry explodes it to scalar rows for the hash-compare gate. `keep`
    names already-computed columns of `docs` to carry through the chain —
    consumers that need side features (e.g. the quality classifier's
    sw_ratio) ride the same scan instead of self-joining a second one."""
    k = list(keep)
    return (
        docs.selectExpr("doc_id", *k, f"{_HASHES} AS hashes")
        .selectExpr("doc_id", *k, f"{_RAW_VEC} AS raw")
        .selectExpr(
            "doc_id",
            *k,
            "sqrt(aggregate(zip_with(raw, raw, (x, y) -> x * y),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) AS norm",
            "raw",
        )
        .selectExpr(
            "doc_id",
            *k,
            "CASE WHEN norm = 0.0 THEN raw"
            " ELSE transform(raw, x -> round(x / norm, 6)) END AS embedding",
        )
    )


def _bucket_sums(docs: DataFrame) -> DataFrame:
    """(doc_id, dim, v): signed hash-bucket token counts — the sparse
    integer form of the feature-hash embedding.

    Partitioning (r12): the narrow (doc_id, text) projection hashes by
    doc_id BEFORE tokenization, so the (doc_id, dim) aggregate — and
    every downstream doc_id-keyed consumer (per-doc norms, the dense
    retrieval score aggregate, the vector assembly in
    text_semantic_dups) — runs with no further exchange; the exploded
    token rows themselves never shuffle. Also spreads the tokenize +
    md5 work across the cluster when the scan under-splits (guide §2.5
    input skew)."""
    # Explicit partition count — AQE would coalesce the narrow doc
    # exchange by bytes and serialize the token explosion it feeds
    # (see text_ops._bm25_scored).
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "text")
        .repartition(n_part, "doc_id")
        .select("doc_id", F.explode(F.expr(TOKENS)).alias("tok"))
        .selectExpr(
            "doc_id",
            f"CAST(conv(substring(md5(tok), 1, 7), 16, 10) AS BIGINT)"
            f" % {EMBED_DIM} AS dim",
            "CASE WHEN CAST(conv(substring(md5(tok), 8, 1), 16, 10) AS BIGINT)"
            " % 2 = 0 THEN 1 ELSE -1 END AS sign",
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("sign").alias("v"))
    )


def doc_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form: one scalar row per (doc_id, dim) — array columns
    don't survive the driver's value-hash compare, so the vector is
    emitted exploded; the array API is `feature_hash_embed`.

    Plan: the Spark side mirrors the oracle's explode + group-by twin —
    token rows shuffle as skinny (doc_id, bucket, sign) triples with
    map-side combine, norms come from one more tiny aggregate, and the
    (doc, dim) grid left-joins the bucket sums. Equivalent integers in
    both engines (v^2 terms are integer-valued doubles, so summation
    order cannot matter). The zero-shuffle HOF form stays the library
    API for corpus-scale embedding where the token shuffle is the
    enemy; this scalar-row form is the gate/bench plan (~5x faster at
    bench scale than evaluating 128 interpreted HOF filters per doc)."""
    docs = load_table(spark, sf_dir, "documents")
    sums = _bucket_sums(docs)
    norms = sums.groupBy("doc_id").agg(
        F.expr("sqrt(CAST(sum(v * v) AS DOUBLE))").alias("norm")
    )
    grid = docs.select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {EMBED_DIM - 1})")).alias("dim"),
    )
    return (
        grid.join(sums, ["doc_id", "dim"], "left")
        .join(norms, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(dim AS BIGINT) AS dim",
            "CASE WHEN norm IS NULL OR norm = 0.0"
            " THEN CAST(coalesce(v, 0) AS DOUBLE)"
            " ELSE round(CAST(coalesce(v, 0) AS DOUBLE) / norm, 6)"
            " END AS val",
        )
    )


FEATURE_HASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_DUCK}) AS tok FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 7))::UBIGINT AS BIGINT)
           % {EMBED_DIM} AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(tok), 8, 1))::UBIGINT AS BIGINT)
                   % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM toks
),
sums AS (
  SELECT doc_id, bucket, sum(sign) AS v FROM hashed GROUP BY 1, 2
),
vecs AS (
  SELECT doc_id,
         map_from_entries(list(struct_pack(k := bucket, v := v))) AS m
  FROM sums GROUP BY 1
),
raws AS (
  SELECT d.doc_id,
         list_transform(range(0, {EMBED_DIM}),
                        i -> CAST(coalesce(m[i][1], 0) AS DOUBLE)) AS raw
  FROM documents d LEFT JOIN vecs USING (doc_id)
),
normed AS (
  SELECT doc_id, raw, sqrt(list_dot_product(raw, raw)) AS norm FROM raws
),
final AS (
  SELECT doc_id,
         CASE WHEN norm = 0.0 THEN raw
              ELSE list_transform(raw, x -> round(x / norm, 6)) END
           AS embedding
  FROM normed
)
SELECT doc_id, i AS dim, embedding[i + 1] AS val
FROM final, range(0, {EMBED_DIM}) t(i)
"""


TEXT_DUP_COS_THRESHOLD = 0.93  # calibrated: true near-dups sit >= 0.93
# on the synthetic corpus; the shared-vocabulary bulk starts ~0.92


def text_semantic_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs on RAW TEXT — no embeddings table, no
    model: sparse integer dot products over the hashed-count vectors
    (`_bucket_sums`), an inverted-index self-join on the hash dimension.

    Determinism contract: the dot product and both squared norms are
    sums of exact BIGINT products (any summation order), and the only
    float ops are two correctly-rounded sqrts and one divide — so Spark
    and the DuckDB oracle agree bit-for-bit, with no order-dependent
    float summation anywhere (rounding the normalized vectors first
    would have reintroduced it).

    Plan (the `embedding_cosine_dups` shape, shared engine): dense
    integer vectors assemble from the bucket sums; candidates come from
    the block-pair GEMM (`similarity.gemm_candidate_pairs`, bounded
    per-task memory, threshold - epsilon mask); the few survivors are
    exact-re-scored with the integer arithmetic above — the GEMM is a
    sieve, never the source of truth. Total work is the inherent O(N^2)
    of the exact all-pairs contract; for approximate-at-scale, persist
    `feature_hash_embed` vectors into the IVF-PQ store and use the
    bulk-ANN swap (`pq.embedding_near_dups_from_store`)."""
    from .similarity import _corpus_rows, gemm_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    sums = _bucket_sums(docs)
    vecs = (
        sums.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("dim", "v"))
            ).alias("m"),
            F.sum(F.expr("v * v")).alias("nn"),
        )
        .where(F.col("nn") > 0)
        .selectExpr(
            "doc_id",
            f"transform(sequence(0, {EMBED_DIM - 1}),"
            " i -> CAST(coalesce(m[CAST(i AS BIGINT)], 0) AS DOUBLE))"
            " AS vec",
            "nn",
        )
    )
    n_rows = _corpus_rows(sf_dir, "documents")
    cand = gemm_candidate_pairs(
        vecs.selectExpr("doc_id AS vec_id", "vec AS embedding"),
        n_rows if n_rows is not None else vecs.count(),
        TEXT_DUP_COS_THRESHOLD,
    )

    a = vecs.selectExpr("doc_id AS vec_a", "vec AS va", "nn AS na2")
    b = vecs.selectExpr("doc_id AS vec_b", "vec AS vb", "nn AS nb2")
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn(
            "sim",
            # dot of integer-valued doubles: every product and partial
            # sum is an exact integer < 2^53, so the fold matches the
            # oracle's sum bit-for-bit regardless of order
            F.expr(
                "aggregate(zip_with(va, vb, (x, y) -> x * y),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                " / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))"
            ),
        )
        .where(F.col("sim") >= TEXT_DUP_COS_THRESHOLD)
        .select(
            F.col("vec_a").alias("doc_a"),
            F.col("vec_b").alias("doc_b"),
            F.round("sim", 4).alias("sim"),
        )
    )


_SUMS_DUCK = f"""
toks AS (
  SELECT doc_id, unnest({TOKENS_DUCK}) AS tok FROM documents
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 7))::UBIGINT AS BIGINT)
           % {EMBED_DIM} AS dim,
         CASE WHEN CAST(('0x' || substr(md5(tok), 8, 1))::UBIGINT AS BIGINT)
                   % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM toks
),
sums AS (
  SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS v
  FROM hashed GROUP BY 1, 2
)
"""

TEXT_SEMANTIC_DUPS_SQL = f"""
WITH {_SUMS_DUCK},
n2 AS (
  SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS nn FROM sums GROUP BY 1
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.v * b.v) AS BIGINT) AS dot
  FROM sums a JOIN sums b ON a.dim = b.dim AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sims AS (
  SELECT doc_a, doc_b,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
           AS sim
  FROM pairs
  JOIN n2 na ON na.doc_id = pairs.doc_a
  JOIN n2 nb ON nb.doc_id = pairs.doc_b
)
SELECT doc_a, doc_b, round(sim, 4) AS sim
FROM sims WHERE sim >= {TEXT_DUP_COS_THRESHOLD}
"""


QUERIES = {
    "doc_feature_hash_embed": doc_feature_hash_embed,
    "text_semantic_dups": text_semantic_dups,
}
ORACLE = {
    "doc_feature_hash_embed": FEATURE_HASH_SQL,
    "text_semantic_dups": TEXT_SEMANTIC_DUPS_SQL,
}
