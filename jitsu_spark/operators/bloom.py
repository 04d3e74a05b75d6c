"""Bloom-filter store summary for the incremental dedup gate.

The incremental exact gate (`dedup.fingerprint_verdicts`) answers "is
this content hash already in the corpus?" by scanning the fingerprint
store with a broadcast probe of the batch's hashes. Correct and
join-shaped right (the 100 TB store streams, the batch broadcasts) —
but at scale the dominant cost is the store SCAN itself, paid by every
micro-batch even when the batch is entirely fresh content (the common
case for a crawl frontier that rarely revisits). The reference engine's
warehouse MERGE has the same shape (dedup window scan per batch,
`libs/core-functions/src/functions/bulker-destination.ts` dedup
semantics); this module is the summary structure that makes the probe
cheap.

A Bloom filter over the store's content hashes is the classic fix:

- **bits, not rows**: M_BITS bits summarize the whole store —
  2^17 bits here (16 KiB); at 10^10 stored fingerprints a production
  deployment sizes m ≈ 14.4 GB for 1% fp at k=5, still a broadcast-able
  side table of m/63 BIGINT rows, vs re-scanning a 100 TB store.
- **no false negatives**: a hash the bloom rejects is DEFINITELY not
  stored → those batch rows skip the store join entirely. A batch whose
  every hash is bloom-negative skips the store SCAN entirely — zero
  store I/O for all-fresh micro-batches.
- **false positives only cost a confirm**: bloom-positive hashes go
  through the exact store join exactly as before, so the gate's output
  is bit-identical to the unsummarized gate. The bloom is a pruning
  structure, never a source of truth.
- **mergeable, append-only, replay-idempotent**: bloom words combine by
  bit_or — the same mergeable-state family as the HLL and quantile
  sketches in `operators/rollup.py`. The durable summary is an
  append-only parquet of (word_idx, bits) rows collapsed by bit_or on
  read; a crash-replayed append ORs the same bits again and changes
  nothing.
- **self-healing, never trusted**: the durable summary tracks which
  store part-files its bits cover and heals the uncovered delta at
  load time (`load_bloom_healed`), so the no-false-negative guarantee
  holds against ANY store write path — batch ingests sharing the
  store, gate runs from before the summary existed, a summary enabled
  on a pre-existing corpus. Under-coverage (= wrong verdicts) is
  structurally impossible; the failure mode of every crash window is
  over-coverage (= extra confirms = safe).

Hash scheme: k=5 positions via double hashing h1 + i*h2 (Kirsch &
Mitzenmacher 2006) derived from the md5 content hash the store already
keys on — no extra hashing pass. Words are 63 bits wide so the shifted
mask never touches the sign bit (DuckDB raises on `1::BIGINT << 63`;
Spark wraps — 63-bit words keep both engines in exact agreement).

Registry entry `bloom_dedup_gate` runs the whole pattern in-frame
(store = md5-bucket(doc_id) < 800 of documents, batch = the rest) and
is oracle-checked: DuckDB reproduces the bloom bit-for-bit, so the
`bloom_candidate` column and the exact verdicts both hash-match.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .sampling import _bucket, _bucket_duck

M_BITS = 1 << 17  # bloom width in bits (16 KiB summary)
K_HASH = 5  # double-hashed probe positions per key
WORD_BITS = 63  # bits packed per BIGINT word (sign bit never shifted)
STORE_MILLE = 800  # registry entry: store = buckets [0, 800) of docs

# Spark-side expressions (pure SQL strings so the DuckDB oracle is a
# transliteration, not a reimplementation).
_H1 = "CAST(conv(substring({h}, 1, 12), 16, 10) AS BIGINT)"
_H2 = "CAST(conv(substring({h}, 13, 12), 16, 10) AS BIGINT) * 2 + 1"


def _positions_expr(m_bits: int = M_BITS, k_hash: int = K_HASH) -> str:
    """The k probe positions as a Spark array expression. Width is a
    PARAMETER (review finding, round 10): a production deployment sizes
    m to its corpus (~14.4 GB at 10^10 keys / 1% fp) — the module
    defaults are the registry-entry sizing, not a hard-wired width."""
    # h1 < 2^48, h2 < 2^49, i < k  ->  h1 + i*h2 stays far below 2^63
    # for any sane k; the pmod result is always < m_bits.
    return (
        f"transform(sequence(0, {k_hash - 1}), "
        f"i -> pmod({_H1} + i * {_H2}, {m_bits}))"
    )


_POSITIONS = _positions_expr()

_H1_DUCK = "CAST(('0x' || substr({h}, 1, 12))::UBIGINT AS BIGINT)"
_H2_DUCK = "CAST(('0x' || substr({h}, 13, 12))::UBIGINT AS BIGINT) * 2 + 1"
_POS_DUCK = f"({_H1_DUCK} + i * {_H2_DUCK}) % {M_BITS}"


def _position_rows(
    hashes: DataFrame, col: str,
    m_bits: int = M_BITS, k_hash: int = K_HASH,
) -> DataFrame:
    """(key columns..., word_idx, mask) — k_hash rows per input row."""
    pos = F.explode(
        F.expr(_positions_expr(m_bits, k_hash).format(h=col))
    ).alias("pos")
    return hashes.select("*", pos).selectExpr(
        "*",
        f"CAST(pos DIV {WORD_BITS} AS INT) AS word_idx",
        f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {WORD_BITS} AS INT))"
        " AS mask",
    )


def bloom_words(
    hashes: DataFrame, col: str = "text_hash",
    m_bits: int = M_BITS, k_hash: int = K_HASH,
) -> DataFrame:
    """Build the bloom summary: (word_idx, bits) with bits = bit_or of
    all masks landing in the word. At most ceil(m_bits/63) rows
    regardless of input size; the shuffle carries (word, mask) pairs
    that partial-aggregate map-side, so the wide input collapses before
    it moves."""
    return (
        _position_rows(hashes.select(col), col, m_bits, k_hash)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    batch_hashes: DataFrame, words: DataFrame, col: str = "text_hash",
    m_bits: int = M_BITS, k_hash: int = K_HASH,
) -> DataFrame:
    """Tag each batch hash with `bloom_candidate` (all K probe bits
    set). The words table is summary-sized and broadcasts; the batch
    never shuffles — the probe is a map-side join plus a groupBy on the
    batch's own key, which partial-aggregates back to one row per input
    row before moving."""
    probed = _position_rows(batch_hashes, col, m_bits, k_hash).join(
        words, "word_idx", "left"
    )
    keys = [c for c in batch_hashes.columns]
    return (
        probed.withColumn(
            "_hit",
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(F.col("mask")) != 0),
        )
        .groupBy(*keys)
        .agg(F.bool_and("_hit").alias("bloom_candidate"))
    )


def bloom_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked registry entry: the full bloom-pruned incremental
    gate in one frame. documents split 80/20 into store/batch by the
    engine-stable md5 bucket; the store's hashes build the bloom; the
    batch probes it; ONLY bloom candidates join the store for the exact
    confirm. Output per batch doc: (doc_id, text_hash, bloom_candidate,
    verdict, canonical_id) — identical verdict semantics to
    `dedup.verdicts_against_store` (dup_of_corpus / dup_in_batch / new,
    min-doc_id canonicals), with the bloom decision auditable in-frame.

    Exactness: a stored hash always has all K bits set (no false
    negatives), so pruning bloom-negative rows from the confirm join
    cannot lose a dup; false positives confirm against the store and
    come back 'new'. At 100 TB the confirm join's probe side shrinks
    from |batch| to |bloom candidates| and an all-fresh batch makes the
    store join's build side EMPTY — AQE collapses the store scan to a
    no-op join against an empty broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    store = (
        docs.where(b < STORE_MILLE)
        .select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_id"))
    )
    batch = docs.where(b >= STORE_MILLE).select(
        "doc_id", F.md5("text").alias("text_hash")
    )

    words = bloom_words(store)
    probed = bloom_probe(batch, words)

    candidates = (
        probed.where("bloom_candidate").select("text_hash").distinct()
    )
    hits = (
        store.join(candidates, "text_hash")
        .groupBy("text_hash")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    batch_canon = batch.groupBy("text_hash").agg(
        F.min("doc_id").alias("batch_canonical")
    )
    return (
        probed.join(batch_canon, "text_hash")
        .join(hits, "text_hash", "left")
        .selectExpr(
            "doc_id",
            "text_hash",
            "bloom_candidate",
            "CASE WHEN canonical_id IS NOT NULL THEN 'dup_of_corpus'"
            " WHEN doc_id <> batch_canonical THEN 'dup_in_batch'"
            " ELSE 'new' END AS verdict",
            "coalesce(canonical_id, batch_canonical) AS canonical_id",
        )
    )


_POS_ROWS_DUCK = f"""
  SELECT s.*, {_POS_DUCK.format(h='text_hash')} AS pos
  FROM {{src}} s, unnest(range(0, {K_HASH})) AS t(i)
"""

BLOOM_DEDUP_GATE_SQL = f"""
WITH store AS (
  SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id
  FROM documents WHERE {_bucket_duck('doc_id')} < {STORE_MILLE}
  GROUP BY 1
),
batch AS (
  SELECT doc_id, md5(text) AS text_hash
  FROM documents WHERE {_bucket_duck('doc_id')} >= {STORE_MILLE}
),
store_pos AS ({_POS_ROWS_DUCK.format(src='store')}),
words AS (
  SELECT CAST(pos // {WORD_BITS} AS INT) AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {WORD_BITS} AS INT)) AS bits
  FROM store_pos GROUP BY 1
),
batch_pos AS ({_POS_ROWS_DUCK.format(src='batch')}),
probed AS (
  SELECT doc_id, text_hash,
         bool_and(w.bits IS NOT NULL AND
                  (w.bits & (1::BIGINT << CAST(pos % {WORD_BITS} AS INT)))
                  <> 0) AS bloom_candidate
  FROM batch_pos p
  LEFT JOIN words w ON CAST(p.pos // {WORD_BITS} AS INT) = w.word_idx
  GROUP BY 1, 2
),
hits AS (
  SELECT s.text_hash, min(s.canonical_id) AS canonical_id
  FROM store s
  JOIN (SELECT DISTINCT text_hash FROM probed WHERE bloom_candidate) c
    USING (text_hash)
  GROUP BY 1
),
batch_canon AS (
  SELECT text_hash, min(doc_id) AS batch_canonical FROM batch GROUP BY 1
)
SELECT p.doc_id, p.text_hash, p.bloom_candidate,
       CASE WHEN h.canonical_id IS NOT NULL THEN 'dup_of_corpus'
            WHEN p.doc_id <> bc.batch_canonical THEN 'dup_in_batch'
            ELSE 'new' END AS verdict,
       coalesce(h.canonical_id, bc.batch_canonical) AS canonical_id
FROM probed p
JOIN batch_canon bc USING (text_hash)
LEFT JOIN hits h USING (text_hash)
"""


# ---------------------------------------------------------------------------
# Durable summary: a LAZILY-HEALED materialized view of its store.
#
# The no-false-negative guarantee only holds while the summary covers
# the store, and a store has write paths the summary cannot see — batch
# `dedup_incremental` ingests sharing the gate's store, gate runs from
# before the summary was configured, a summary enabled on a
# pre-existing corpus (review finding, this round). Trusting "some
# bloom rows exist" as "the bloom is complete" would turn any of those
# into silent false negatives = permanently admitted duplicates.
#
# So the summary never trusts itself: it tracks WHICH store part-files
# its bits cover (`<bloom_dir>/covered/`, one row per file name), and
# every load lists the store and ORs the keys of any uncovered file
# into `<bloom_dir>/words/` before probing — first use on an existing
# store self-seeds, a file appended by any writer is healed exactly
# once, and a crash between the words append and the covered append
# just re-heals idempotently (bit_or of the same bits). Healing cost
# rides the uncovered DELTA, never the whole store; the words append
# lands BEFORE the coverage record so the summary can only ever
# over-cover (extra confirms — safe), never under-cover.
# ---------------------------------------------------------------------------


def _store_data_files(spark: SparkSession, store_dir: str) -> list[str]:
    """Relative paths of the store's parquet data files (empty when the
    store does not exist yet), listed through Spark's Hadoop FileSystem
    API — the SAME listing `spark.read.parquet` resolves the store
    through, so any path Spark can read (local, s3a://, hdfs://) is
    enumerated here too. A local `os.walk` would return [] for object
    stores and silently mark them fully covered — inverting the
    no-false-negative guarantee (review finding, round 10)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
    out = []
    it = fs.listFiles(root, True)  # recursive, data files only
    while it.hasNext():
        full = it.next().getPath().toString()
        if full.endswith(".parquet"):
            assert full.startswith(prefix), (full, prefix)
            out.append(full[len(prefix):])
    return sorted(out)


_PARAMS_MEMO: set = set()


def _ensure_params(
    spark: SparkSession, bloom_dir: str, m_bits: int, k_hash: int
) -> None:
    """Persist (m_bits, k_hash, word_bits) beside the durable summary
    and validate every later access against them. Probing words built
    at one width with positions computed at another produces REAL false
    negatives (review finding, round 10) — a width change must be a new
    summary directory, never a silent reinterpretation. Replay-safe:
    identical rows collapse on read; a conflicting row is a loud error.
    Memoized per (dir, m, k): params cannot change under a live process,
    so a streaming gate pays the params read once, not per micro-batch."""
    memo_key = (os.path.abspath(bloom_dir), m_bits, k_hash)
    if memo_key in _PARAMS_MEMO:
        return
    try:
        rows = {
            (r.m_bits, r.k_hash, r.word_bits)
            for r in spark.read.parquet(bloom_dir + "/params").collect()
        }
    except Exception:
        rows = set()
    if not rows:
        spark.createDataFrame(
            [(m_bits, k_hash, WORD_BITS)],
            "m_bits INT, k_hash INT, word_bits INT",
        ).write.mode("append").parquet(bloom_dir + "/params")
        _PARAMS_MEMO.add(memo_key)
        return
    if rows != {(m_bits, k_hash, WORD_BITS)}:
        raise ValueError(
            f"bloom summary at {bloom_dir} was built with params {rows}; "
            f"this access requested (m_bits={m_bits}, k_hash={k_hash}, "
            f"word_bits={WORD_BITS}). Re-point to a fresh summary dir — "
            "probing across widths produces false negatives."
        )
    _PARAMS_MEMO.add(memo_key)


def _read_words(spark: SparkSession, bloom_dir: str) -> DataFrame:
    try:
        raw = spark.read.parquet(bloom_dir + "/words")
    except Exception:
        raw = spark.range(0).selectExpr(
            "CAST(id AS INT) AS word_idx", "id AS bits"
        )
    return raw.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def load_bloom_healed(
    spark: SparkSession,
    store_dir: str,
    bloom_dir: str,
    keys_of,
    col: str = "text_hash",
    m_bits: int = M_BITS,
    k_hash: int = K_HASH,
) -> DataFrame:
    """The summary words for `store_dir`, healed to cover every data
    file currently in the store. `keys_of(store_frame)` projects the
    store rows to the single 32-hex key column `col` (identity
    projection for the fingerprint store, band keys for the signature
    store). (m_bits, k_hash) are validated against the params persisted
    with the summary — a width mismatch raises instead of silently
    probing at the wrong positions."""
    import os

    _ensure_params(spark, bloom_dir, m_bits, k_hash)
    actual = _store_data_files(spark, store_dir)
    covered: set = set()
    try:
        covered = {
            r.file for r in spark.read.parquet(bloom_dir + "/covered").collect()
        }
    except Exception:
        pass
    missing = [f for f in actual if f not in covered]
    if missing:
        gap = spark.read.parquet(
            *[os.path.join(store_dir, f) for f in missing]
        )
        bloom_words(keys_of(gap), col, m_bits, k_hash).write.mode(
            "append"
        ).parquet(bloom_dir + "/words")
        # coverage record AFTER the words landed: a crash between the
        # two re-heals the same files next load (idempotent), never
        # marks unhealed files covered
        spark.createDataFrame(
            [(f,) for f in missing], "file STRING"
        ).write.mode("append").parquet(bloom_dir + "/covered")
    return _read_words(spark, bloom_dir)


def append_bloom(
    spark: SparkSession, hashes: DataFrame, bloom_dir: str,
    col: str = "text_hash",
    m_bits: int = M_BITS, k_hash: int = K_HASH,
) -> None:
    """Pre-warm: OR keys into the summary ahead of their store write,
    saving the heal re-read of the file they land in. Optional — the
    healed loader is correct without it — and always safe: bits are
    idempotent under replay and extra bits only over-cover."""
    _ensure_params(spark, bloom_dir, m_bits, k_hash)
    bloom_words(hashes, col, m_bits, k_hash).write.mode("append").parquet(
        bloom_dir + "/words"
    )


def fingerprint_verdicts_bloom(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
    bloom_dir: str,
    _stats: dict | None = None,
) -> DataFrame:
    """Drop-in replacement for `dedup.fingerprint_verdicts` that probes
    the durable bloom summary first. Bit-identical verdicts, but:

    - bloom-negative batch rows never enter the store join's probe set;
    - a batch with ZERO bloom candidates never reads the store at all
      (the all-fresh-content fast path a crawl-frontier stream hits on
      almost every micro-batch);
    - with no summary on disk yet, falls back to the plain store probe.

    `_stats` (tests/telemetry) receives {'store_scanned': bool,
    'n_candidates': int}. The candidate count is the one driver-side
    action this path takes — it is the decision that saves the scan.

    The summary self-heals before probing (see `load_bloom_healed`):
    a missing or stale bloom seeds/patches itself from the store's
    uncovered files, so the no-false-negative guarantee holds against
    ANY store write path — batch ingests, pre-bloom gate runs, crashed
    appends — not just gates that kept the summary themselves.
    """
    from .dedup import verdicts_against_store

    words = load_bloom_healed(
        spark, store_dir, bloom_dir, keys_of=lambda df: df, col="text_hash"
    )

    batch = new_docs.select("doc_id", F.md5("text").alias("text_hash"))
    probed = bloom_probe(batch, words).localCheckpoint()
    n_cand = probed.where("bloom_candidate").count()
    if _stats is not None:
        _stats.update(store_scanned=n_cand > 0, n_candidates=n_cand)
    if n_cand == 0:
        # definitely-absent: every hash is new to the corpus; only the
        # intra-batch min-id election remains. Zero store I/O.
        empty_store = spark.range(0).selectExpr(
            "CAST(NULL AS STRING) AS text_hash",
            "CAST(NULL AS BIGINT) AS canonical_id",
        )
        return verdicts_against_store(
            new_docs, empty_store
        ).localCheckpoint()
    try:
        store = spark.read.parquet(store_dir).select(
            "text_hash", "canonical_id"
        )
    except Exception:
        store = spark.range(0).selectExpr(
            "CAST(NULL AS STRING) AS text_hash",
            "CAST(NULL AS BIGINT) AS canonical_id",
        )
    # prune the store probe to bloom candidates: the confirm join's
    # broadcast build side carries candidates only, and a bucketed
    # store layout prunes files by the candidates' hash prefixes.
    cand = probed.where("bloom_candidate").select("doc_id")
    cand_docs = new_docs.join(cand, "doc_id", "left_semi")
    confirmed = verdicts_against_store(cand_docs, store).select(
        "text_hash", "canonical_id", "verdict"
    ).where(F.col("verdict") == "dup_of_corpus").select(
        "text_hash", "canonical_id"
    ).groupBy("text_hash").agg(F.min("canonical_id").alias("canonical_id"))
    batch_canon = batch.groupBy("text_hash").agg(
        F.min("doc_id").alias("batch_canonical")
    )
    out = (
        batch.join(batch_canon, "text_hash")
        .join(confirmed, "text_hash", "left")
        .selectExpr(
            "doc_id",
            "text_hash",
            "CASE WHEN canonical_id IS NOT NULL THEN 'dup_of_corpus'"
            " WHEN doc_id <> batch_canonical THEN 'dup_in_batch'"
            " ELSE 'new' END AS verdict",
            "coalesce(canonical_id, batch_canonical) AS canonical_id",
        )
    )
    return out.localCheckpoint()


# ---------------------------------------------------------------------------
# Band-key bloom: the NEAR gate's analog of the fingerprint summary.
# The banded minhash probe (`dedup.near_dup_verdicts_against_store`)
# already prunes candidate PAIRS to colliding buckets, but it still
# SCANS the corpus-sized signature store every batch to find the
# collisions. Summarizing the store's (band_idx, bucket) keys in a
# bloom lets a batch whose band keys are all bloom-negative skip the
# signature-store scan entirely — no band key in common means no LSH
# candidate, means every doc is near-'new' by construction.
# ---------------------------------------------------------------------------


def band_bloom_keys(sig: DataFrame) -> DataFrame:
    """One 32-hex key per (doc, band): md5 over the band index and its
    bucket hash — the unit the near-dup store probe collides on."""
    from .dedup import _band_rows

    return _band_rows(sig).selectExpr(
        "md5(concat_ws(':', band_idx, bucket)) AS band_key"
    )


def near_store_may_collide(
    spark: SparkSession,
    batch_sig: DataFrame,
    signature_store_dir: str,
    bloom_dir: str,
) -> bool:
    """Whether ANY of the batch's band keys might exist in the
    signature store. False is a GUARANTEE (the healed summary covers
    the store and blooms have no false negatives): zero LSH collisions
    are possible, every doc is near-'new', and the signature store
    need not be read. `batch_sig` is the batch's signature frame —
    compute it once and share it with the verdict probe."""
    words = load_bloom_healed(
        spark,
        signature_store_dir,
        bloom_dir,
        keys_of=band_bloom_keys,
        col="band_key",
    )
    probed = bloom_probe(band_bloom_keys(batch_sig), words, col="band_key")
    return bool(probed.where("bloom_candidate").take(1))


QUERIES = {
    "bloom_dedup_gate": bloom_dedup_gate,
}
ORACLE = {
    "bloom_dedup_gate": BLOOM_DEDUP_GATE_SQL,
}
