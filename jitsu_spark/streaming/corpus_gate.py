"""Streaming corpus ingestion gate — the training-data twin of the event
spine: a document stream is quality-gated, content-deduped inside the
watermark horizon, and appended to the corpus store.

Reuses the batch operators' exact expressions (`operators/quality_filters`
Gopher rules), so batch backfill and streaming ingest apply the SAME gate
— the property that keeps an incrementally-built corpus consistent with
its batch-rebuilt form.

Scale notes: the gate is scan-side (codegen, no shuffle); dedup keeps one
state row per md5(text) within the watermark (content hash, never the
text); the sink append is partitioned by source. At 1000 executors the
only cross-node traffic is the dedup state shuffle on the 16-byte hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.quality_filters import (
    MAX_MEAN_WORD_LEN,
    MAX_WORDS,
    MIN_ALPHA_FRAC,
    MIN_MEAN_WORD_LEN,
    MIN_STOPWORDS,
    MIN_WORDS,
    _SW,
)
from ..operators.text_ops import TOKENS

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("ingested_at", T.TimestampType()),
    ]
)


def document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """JSON-lines document stream (crawl shard replay)."""
    reader = spark.readStream.schema(DOC_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def gate_expr() -> str:
    """The Gopher keep rule as one boolean SQL expression (identical to
    `gopher_quality_flags`' keep column, factored for stream reuse)."""
    t = TOKENS
    return (
        f"size({t}) BETWEEN {MIN_WORDS} AND {MAX_WORDS}"
        f" AND (aggregate({t}, 0L, (a, x) -> a + length(x)) / size({t}))"
        f"     BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN}"
        f" AND size(filter({t}, x -> x IN ({_SW}))) >= {MIN_STOPWORDS}"
        f" AND (size(filter({t}, x -> x rlike '[a-zA-Z]')) / size({t}))"
        f"     >= {MIN_ALPHA_FRAC}"
    )


def gated_documents(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Quality gate + watermarked exact content dedup."""
    return (
        stream.where(gate_expr())
        .withColumn("content_hash", F.md5("text"))
        .withWatermark("ingested_at", watermark)
        .dropDuplicates(["content_hash"])
    )


def process_gated_batch_durable(
    batch: DataFrame,
    fingerprint_store_dir: str,
    sink,
    table: str = "corpus",
    signature_store_dir: str | None = None,
    bloom_summary_dir: str | None = None,
    near_bloom_dir: str | None = None,
) -> None:
    """One micro-batch of the DURABLE gate: consult the corpus
    fingerprint store (no mutation), MERGE the genuinely-new docs into
    the corpus table, then append their fingerprints.

    With `near_bloom_dir` (r10), the near gate keeps a band-key bloom
    summary next to the signature store: a batch none of whose LSH band
    keys are in the summary PROVABLY has no near-dup candidate, so the
    signature-store scan is skipped outright. Both summaries are
    lazily HEALED at probe time from the store's own file listing
    (`operators/bloom.load_bloom_healed`) — they stay correct no
    matter which writer appended to the store, with no write-time
    bloom bookkeeping in this function.

    With `signature_store_dir` (r7), the exact gate composes with the
    incremental NEAR-dup gate: exact-new docs additionally band-probe
    the corpus's minhash signature store
    (`dedup.near_dup_verdicts_against_store`) and near-dups of already-
    ingested content are dropped too; survivors' signatures append after
    the corpus write. Near-dropped docs enter NEITHER store — a replay
    re-derives the same verdict deterministically, and a duplicate
    signature append after a crash-between-writes is harmless (candidate
    pairs are distinct-ed; the agreement estimate is unchanged by
    duplicate store rows — same contract as the exact store's
    concurrent-append note).

    Replay-safety (at-least-once micro-batches -> exactly-once corpus):
    the corpus write happens BEFORE the store appends and is itself a
    MERGE on content_hash; among the appends, SIGNATURES go before
    fingerprints. Crash cases:
    - after the MERGE, before any append: replayed verdicts are 'new'
      again and the MERGE is idempotent;
    - between the signature and fingerprint appends: the replayed docs
      match their own stored signatures and drop at the near gate — the
      corpus already holds them. The replay BACKFILLS their exact
      fingerprints (r8 review fix): a near-rejected doc whose OWN
      doc_id already has signatures in the store can only be a doc a
      prior attempt carried through the corpus MERGE and signature
      append (the enforced write order), so its content is in the
      corpus and its fingerprint belongs in the store. Without the
      backfill, a later exact-only caller (no signature_store_dir)
      sharing this fingerprint store would admit exact duplicates of
      that content forever. (Assumes the stream's doc_ids are stable
      across replays and never recycled for different content — the
      same contract the signature store itself is keyed on.);
    - after both: replayed docs verdict 'dup_of_corpus' and drop.
    Either way no loss, no duplicates, and no window that forever
    admits later near-dups (the pre-r7 fingerprints-first order had
    one). (Store-append before the corpus MERGE would lose docs:
    store-first + crash -> replay drops rows never written.)
    """
    from ..operators.dedup import append_fingerprints, fingerprint_verdicts

    spark = batch.sparkSession
    if bloom_summary_dir is not None:
        # bloom prefilter (r10): the lazily-HEALED summary probe
        # replaces the store scan for all-fresh batches; verdicts are
        # bit-identical. No write-time bloom bookkeeping is needed —
        # files this batch appends to the store are healed into the
        # summary by the next probe's coverage check, exactly once
        # (see operators/bloom.load_bloom_healed).
        from ..operators.bloom import fingerprint_verdicts_bloom

        verdicts = fingerprint_verdicts_bloom(
            spark, batch.select("doc_id", "text"), fingerprint_store_dir,
            bloom_summary_dir,
        )
    else:
        verdicts = fingerprint_verdicts(
            spark, batch.select("doc_id", "text"), fingerprint_store_dir
        )
    keep = verdicts.where(F.col("verdict") == "new").select(
        "doc_id", "text_hash"
    )
    near_v = None
    if signature_store_dir is not None:
        from ..operators.dedup import (
            NUM_HASHES,
            load_signature_store,
            near_dup_verdicts_against_store,
        )

        near_docs = batch.select("doc_id", "text").join(
            keep.select("doc_id"), "doc_id", "left_semi"
        )
        collide = None
        new_sig = None
        if near_bloom_dir is not None:
            from ..operators.bloom import near_store_may_collide
            from ..operators.dedup import (
                _shingles_of,
                _signatures_from_shingles,
            )

            # ONE batch signature pass, shared by the bloom probe, the
            # verdict probe, and the store append below (review
            # finding: the first wiring computed it up to four times)
            new_sig = _signatures_from_shingles(
                _shingles_of(near_docs)
            ).localCheckpoint()
            collide = near_store_may_collide(
                spark, new_sig, signature_store_dir, near_bloom_dir
            )
        if collide is False:
            # band-key bloom guarantee: no LSH collision is possible —
            # every doc is near-'new' and the signature store is never
            # read, so the verdict frame is built directly (shingle-less
            # docs included: downstream only reads verdict != 'new' and
            # the 'new' ids, both unaffected).
            near_v = near_docs.selectExpr(
                "doc_id",
                "'new' AS verdict",
                "CAST(NULL AS BIGINT) AS matched_id",
                "CAST(NULL AS DOUBLE) AS est_jaccard",
            )
        else:
            try:
                store_sig = load_signature_store(spark, signature_store_dir)
            except Exception:
                # first-ever ingest: no signature store yet
                store_sig = spark.range(0).selectExpr(
                    "id AS doc_id",
                    *[
                        f"CAST(NULL AS LONG) AS h{j}"
                        for j in range(NUM_HASHES)
                    ],
                )
            near_v = near_dup_verdicts_against_store(
                near_docs, store_sig, new_sig=new_sig
            ).localCheckpoint()  # pin before the store append, as w/ exact
        # anti-join on REJECTS, not semi-join on survivors: docs with
        # fewer than 3 tokens have no shingles, hence no near_v row —
        # absence must default to 'new' (exact gate only), never to a
        # silent permanent drop (r7 review finding)
        rejected = near_v.where(F.col("verdict") != "new").select("doc_id")
        keep = keep.join(rejected, "doc_id", "left_anti")
        if rejected.take(1):
            # replay backfill (see docstring crash case 2): near-rejected
            # docs whose OWN signatures are stored were fully MERGEd by a
            # prior attempt; append their missing exact fingerprints.
            # Join direction: the corpus-sized store streams, the tiny
            # rejected set broadcasts.
            replayed = (
                store_sig.join(
                    rejected, "doc_id", "left_semi"
                )
                .select("doc_id")
                .distinct()
            )
            backfill = verdicts.where(F.col("verdict") == "new").join(
                replayed, "doc_id", "left_semi"
            )
            if backfill.take(1):
                append_fingerprints(
                    spark, backfill, fingerprint_store_dir
                )
    fresh = batch.join(keep, "doc_id").withColumn(
        "content_hash", F.col("text_hash")
    ).drop("text_hash")
    if fresh.take(1):
        sink.upsert(
            fresh,
            table,
            primary_key=["content_hash"],
            timestamp_col="ingested_at",
        )
        if near_v is not None:
            from ..operators.dedup import append_signatures

            # only SURVIVING docs' state persists: restrict the exact
            # fingerprints to the near gate's survivors, and append
            # their signatures so later batches near-dedup against them.
            # SIGNATURES append FIRST (r7 review finding): a crash
            # between the two appends then leaves the signature store
            # covering the batch — a replay re-MERGEs idempotently and
            # the near gate (matching the batch's own signatures) keeps
            # every future near- AND exact-duplicate out. The opposite
            # order left a window where lost signatures admitted later
            # near-dups of already-ingested content forever.
            surviving_exact = verdicts.join(
                fresh.select("doc_id"),
                "doc_id",
                "left_semi",
            )
            append_signatures(
                near_v, batch.select("doc_id", "text"), signature_store_dir,
                sig=new_sig,
            )
            append_fingerprints(
                spark, surviving_exact, fingerprint_store_dir
            )
        else:
            append_fingerprints(spark, verdicts, fingerprint_store_dir)


def run_corpus_gate_durable(
    stream: DataFrame,
    warehouse_sink,
    checkpoint_dir: str,
    fingerprint_store_dir: str,
    table: str = "corpus",
    trigger: dict | None = None,
    signature_store_dir: str | None = None,
    bloom_summary_dir: str | None = None,
    near_bloom_dir: str | None = None,
) -> StreamingQuery:
    """The durable-dedup gate: quality filter -> per-batch consult of
    the corpus FINGERPRINT STORE -> MERGE new docs -> append
    fingerprints. Unlike `run_corpus_gate`'s watermarked
    dropDuplicates, duplicates are dropped across restarts and beyond
    any time horizon — the streaming twin of the batch
    `dedup_incremental` pass, sharing its store with batch ingests.
    With `signature_store_dir`, the near-dup signature gate composes in
    (see `process_gated_batch_durable`). With `bloom_summary_dir`, the
    store probe goes through the bloom summary — all-fresh micro-batches
    skip the store scan entirely (`operators/bloom`)."""
    gated = stream.where(gate_expr())
    writer = (
        gated.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda b, _id: process_gated_batch_durable(
                b, fingerprint_store_dir, warehouse_sink, table,
                signature_store_dir=signature_store_dir,
                bloom_summary_dir=bloom_summary_dir,
                near_bloom_dir=near_bloom_dir,
            )
        )
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


# ---------------------------------------------------------------------------
# Paragraph-level streaming gate (round 10): the sub-document twin of the
# durable exact/near gate above. Each micro-batch's documents are split
# into paragraphs, stripped against the corpus's PARAGRAPH-HASH STORE
# (paragraphs already published anywhere in the corpus — cross-batch
# boilerplate removal), rebuilt, MERGEd, and the surviving paragraphs'
# hashes appended. Store layout mirrors the fingerprint store: parquet
# partitioned by a hash prefix, so appends are partition-local and a
# probe by hash can prune.
# ---------------------------------------------------------------------------

PAR_PREFIX_BUCKETS = 16


def _par_bucket():
    return F.pmod(
        F.conv(F.substring("par_hash", 1, 2), 16, 10).cast("int"),
        F.lit(PAR_PREFIX_BUCKETS),
    )


def build_paragraph_store(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> None:
    """Seed the store from an existing corpus: one row per distinct
    paragraph md5."""
    from ..operators.paragraphs import _paragraphs

    (
        _paragraphs(spark, sf_dir)
        .select(F.md5("par").alias("par_hash"))
        .distinct()
        .withColumn("bucket", _par_bucket())
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(store_dir)
    )


def process_paragraph_batch_durable(
    batch: DataFrame,
    par_store_dir: str,
    sink,
    table: str = "corpus_stripped",
    bloom_summary_dir: str | None = None,
    split_mode: str = "window",
) -> None:
    """One micro-batch of the paragraph gate: strip against the store
    (no mutation), MERGE the rebuilt docs, then append the survivors'
    paragraph hashes.

    With `bloom_summary_dir` (r10), the paragraph-hash store — the
    LARGEST of the three gate stores, one row per distinct corpus
    paragraph — gets the same lazily-healed bloom summary as the
    exact/near gates: a batch none of whose paragraph hashes are
    bloom-positive provably shares no paragraph with the corpus and
    skips the store scan outright (`operators/bloom`).

    Replay-safety (at-least-once -> exactly-once): the corpus MERGE
    happens BEFORE the store append, and the gate's verdict frame is
    lineage-pinned (localCheckpoint) before either write. Crash cases:
    - after the MERGE, before the append: a replay re-derives the SAME
      rebuilt text (the store is unchanged) and the doc_id-keyed MERGE
      is idempotent;
    - after both: the replayed batch's paragraphs are all in the store,
      every doc rebuilds to zero kept paragraphs and drops — the corpus
      already holds the stripped forms.
    The reverse order would lose content: append-first + crash means a
    replay strips against the batch's own paragraphs and the docs are
    never written. (Assumes stable doc_ids across replays — the same
    contract every durable gate here is keyed on.)"""
    from ..operators.paragraphs import (
        PAR_SEP,
        paragraph_survivors,
        paragraphs_of_docs,
        rebuild_from_survivors,
    )

    spark = batch.sparkSession
    # at-least-once sources can deliver a doc twice WITHIN one batch:
    # duplicated paragraph rows would double the n_pars accounting (the
    # survivor election itself is idempotent — same packed keys, same
    # min). One doc_id row proceeds; the MERGE's newest-wins handles
    # cross-batch redelivery as usual.
    batch = batch.dropDuplicates(["doc_id"])
    pars = paragraphs_of_docs(
        batch.select("doc_id", "text"), split_mode=split_mode
    )
    _empty_store = "CAST(NULL AS STRING) AS par_hash"
    skip_scan = False
    if bloom_summary_dir is not None:
        from ..operators.bloom import bloom_probe, load_bloom_healed

        words = load_bloom_healed(
            spark, par_store_dir, bloom_summary_dir,
            keys_of=lambda df: df.select("par_hash"), col="par_hash",
        )
        batch_hashes = pars.select(F.md5("par").alias("par_hash")).distinct()
        probed = bloom_probe(batch_hashes, words, col="par_hash")
        skip_scan = not probed.where("bloom_candidate").take(1)
    if skip_scan:
        # no batch paragraph can be in the store: the survivor election
        # reduces to the intra-batch min — zero store I/O
        store = spark.range(0).selectExpr(_empty_store)
    else:
        try:
            store = spark.read.parquet(par_store_dir).select("par_hash")
        except Exception:
            # first-ever ingest: no store yet (pure-JVM empty relation)
            store = spark.range(0).selectExpr(_empty_store)
    # pin BEFORE any write: the gate's lineage reads the store, and the
    # append below would otherwise be visible to a re-evaluation; the
    # rebuild derives from the PINNED frame, so the anti-join runs once
    survivors = paragraph_survivors(pars, store).localCheckpoint()
    rebuilt = rebuild_from_survivors(survivors, pars, PAR_SEP[split_mode])
    fresh = batch.drop("text").join(rebuilt, "doc_id")
    if fresh.take(1):
        sink.upsert(
            fresh,
            table,
            primary_key=["doc_id"],
            timestamp_col="ingested_at",
        )
    new_hashes = survivors.select("par_hash").withColumn(
        "bucket", _par_bucket()
    )
    if new_hashes.take(1):
        new_hashes.write.mode("append").partitionBy("bucket").parquet(
            par_store_dir
        )


def run_corpus_gate(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start the gate: stream -> quality filter -> dedup -> partitioned
    append. Append mode (not MERGE): content_hash dedup upstream makes the
    append idempotent within the watermark; the batch `dedup_exact` pass
    owns anything beyond it."""
    gated = gated_documents(stream, watermark)
    writer = (
        gated.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("source")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
