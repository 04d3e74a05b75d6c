"""The composed crawl -> training-shards pipeline (round 11, VERDICT
r10 #3): the END-TO-END job a 100 TB corpus owner actually runs, as ONE
Spark plan — not a chain of separately-launched stages:

    quality gate (the Gopher keep rule)
    -> exact dedup (min-doc_id per content hash)
    -> paragraph dedup (corpus-wide first-occurrence election, doc
       rebuild from surviving paragraphs; all-boilerplate docs drop)
    -> per-source cumulative token-budget selection
    -> deterministic training shuffle order + shard assignment

Two oracle-checked registry entries come out of the one composition:

- `training_data_pipeline` — the per-stage ATTRITION table
  (stage_idx, stage, n_docs, n_tokens): what each stage admitted, in
  frame, so interaction bugs between the families are visible (a gate
  that eats everything, a dedup that doubles counts) and the pipeline's
  accounting is part of the hash compare.
- `training_pipeline_shards` — the final shard manifest
  (shard, n_docs, n_tokens, min_pos, max_pos) over the selected set in
  its global md5 shuffle order: the numbers a sharded training-output
  writer sizes its readers with.

Compositional equality with the standalone stage operators is pinned in
`tests/test_training_pipeline.py` (each stage's survivors equal the
standalone operator's output on the previous stage's survivors).

Scale shape: every stage keeps the plan it has as a standalone entry —
the gate is scan-side codegen; exact dedup is one hash aggregate; the
paragraph election is ONE min()-combined shuffle over packed
(doc_id, pidx) keys; the token budget is the two-phase bucket-histogram
cumsum (`sampling.token_budget_over` — no single-task source sort); the
shuffle order is the distributed range-exchange prefix rank
(`plans/cumsum.histogram_cnt_better` — never a global sort). Composing
them removes the inter-stage materialization a stage-per-job pipeline
pays at 100 TB: text leaves the scan once and dies after the paragraph
stage; everything downstream is (doc_id, source, n_tok) skinny rows.

Reference context: the reference pipelines per-event function chains
(`services/rotor/src/lib/rotor.ts`); this is the corpus-curation analog
at dataset scope (Rae et al. 2021 §A.1; Lee et al. 2022).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table
from .paragraphs import PAR_SHIFT, PAR_WORDS, paragraphs_of_docs
from .quality_filters import (
    GOPHER_KEEP_RULE,
    gopher_feature_exprs,
    gopher_feature_exprs_duck,
)
from .sampling import _bucket, _bucket_duck, token_budget_over
from .text_ops import TOKENS, TOKENS_DUCK

TP_BUDGET_PER_MILLE = 600  # keep the first 60% of each source's tokens
TP_SHARDS = 8


def _stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Every stage frame of the one composed plan. Shared intermediates
    are persisted (skinny frames) so the attrition aggregates and the
    shard manifest never re-run an upstream stage."""
    from ..plans.topk import persist_bounded

    # doc_id-hash the narrow projection before tokenization (r12): the
    # Gopher feature expressions and the paragraph explode otherwise run
    # inside a single-split scan stage (guide §2.5 input skew); explicit
    # N because AQE would coalesce the byte-small doc exchange.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    feats = docs.selectExpr(
        "doc_id", "source", "text", f"{TOKENS} AS t"
    ).selectExpr(
        "doc_id", "source", "text",
        "CAST(size(t) AS BIGINT) AS n_tok",
        *gopher_feature_exprs("t"),
    )
    # r12 (guide §5 reuse, §2.3 project early): ONE tokenize+feature
    # pass over the corpus, persisted as the skinny per-doc ledger — no
    # text, no feature columns. r13 (guide §2.4/§2.6, VERDICT r12 #1 —
    # fewer serial waves): the exact-dedup ELECTION is folded INTO the
    # same persisted frame as a conditional rank over the content-hash
    # exchange (count of kept rows up to the current doc_id within the
    # hash group == row_number among kept rows), so the former second
    # persist (exact_ids) and its separate window/materialization wave
    # are gone; the input/gate/exact attrition rows, the survivor set
    # and the downstream joins all read this ONE frame.
    w = (
        Window.partitionBy("h")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = persist_bounded(
        feats.select(
            "doc_id",
            "source",
            "n_tok",
            F.expr(f"({GOPHER_KEEP_RULE})").alias("keep"),
            F.md5("text").alias("h"),
        )
        .withColumn(
            "exact_rn",
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).over(w),
        )
        .selectExpr(
            "doc_id",
            "source",
            "n_tok",
            "keep",
            "keep AND exact_rn = 1 AS is_exact",
        )
    )
    gated = marked.where("keep")
    exact_ids = marked.where("is_exact").select("doc_id", "source", "n_tok")
    # text re-attaches from the scan only where a stage truly needs it
    # (the paragraph explode) — a doc_id join against the pruned scan is
    # cheaper than carrying text through the election shuffle and the
    # persist. Join against the RAW scan (before the fan-out exchange)
    # so the survivors filter first and the exchange carries only kept
    # docs' text (guide §2.3).
    exact = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .join(exact_ids.select("doc_id", "n_tok"), "doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    pars = paragraphs_of_docs(exact.select("doc_id", "source", "text"))
    # r13 (guide §2.4, VERDICT r12 #1): `source` rides the paragraph
    # election as min_by(source, wk) — the winning doc's source — so the
    # rebuilt frame no longer joins back onto exact_ids just to
    # re-attach it (at scale that join is a corpus-sized SMJ of the
    # rebuilt aggregate against the survivor set; here it was one more
    # broadcast-build wave on the critical path). Every kept row's
    # wk DIV PAR_SHIFT is the winner doc, whose source is functionally
    # determined, so min(source) per doc_id below is exact.
    kept = (
        pars.select(
            "par",
            (F.col("doc_id") * PAR_SHIFT + F.col("pidx")).alias("wk"),
            "source",
        )
        .groupBy("par")
        .agg(
            F.min("wk").alias("wk"),
            F.expr("min_by(source, wk)").alias("source"),
        )
    )
    rebuilt = (
        kept.selectExpr(
            f"wk DIV {PAR_SHIFT} AS doc_id",
            "CAST(size(split(par, ' ')) AS BIGINT) AS par_tok",
            "source",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pars_kept"),
            F.sum("par_tok").alias("n_tok"),
            F.min("source").alias("source"),
        )
        .select("doc_id", "n_pars_kept", "n_tok", "source")
    )
    rebuilt = persist_bounded(rebuilt)
    scored = rebuilt.select("doc_id", "source", "n_tok").withColumn(
        "bucket", _bucket(F.col("doc_id"))
    )
    budget = token_budget_over(scored, TP_BUDGET_PER_MILLE)
    sel = persist_bounded(budget.where("selected").select(
        "doc_id", "source", "n_tok"
    ))
    return {
        "input": marked,
        "marked": marked,
        "gated": gated,
        "exact": exact,
        "exact_ids": exact_ids,
        "rebuilt": rebuilt,
        "selected": sel,
    }


def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (oracle-checked): the per-stage attrition table of
    the composed pipeline — (stage_idx, stage, n_docs, n_tokens)."""
    s = _stages(spark, sf_dir)
    # r13 (guide §2.4, the dedup_cascade_report shape): the input /
    # gopher_gate / exact_dedup rows are nested subsets of the ONE
    # persisted marked ledger, so a single conditional aggregate folds
    # all three and the rows explode map-side via inline() — previously
    # three separate aggregate arms each walked the cache. The paragraph
    # and budget rows keep their own arms (different n_tok basis: the
    # REBUILT token counts).
    head = s["marked"].agg(
        F.count(F.lit(1)).alias("d0"),
        F.sum("n_tok").alias("t0"),
        F.count(F.when(F.col("keep"), 1)).alias("d1"),
        F.sum(F.when(F.col("keep"), F.col("n_tok"))).alias("t1"),
        F.count(F.when(F.col("is_exact"), 1)).alias("d2"),
        F.sum(F.when(F.col("is_exact"), F.col("n_tok"))).alias("t2"),
    )
    rows = ", ".join(
        f"named_struct('stage_idx', CAST({i} AS INT), 'stage', '{name}',"
        f" 'n_docs', d{i}, 'n_tokens', t{i})"
        for name, i in (("input", 0), ("gopher_gate", 1), ("exact_dedup", 2))
    )
    out = head.selectExpr(f"inline(array({rows}))")
    for name, idx, frame in (
        ("paragraph_dedup", 3, s["rebuilt"]),
        ("token_budget", 4, s["selected"]),
    ):
        out = out.unionByName(
            frame.agg(
                F.lit(idx).cast("int").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tok").alias("n_tokens"),
            )
        )
    return out


def training_pipeline_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry (oracle-checked): shard manifest of the selected
    set in its global md5 shuffle order — (shard, n_docs, n_tokens,
    min_pos, max_pos). The rank is the distributed range-exchange
    prefix (`histogram_cnt_better`), never a single-task sort."""
    from ..plans.cumsum import histogram_cnt_better

    sel = _stages(spark, sf_dir)["selected"]
    keyed = sel.selectExpr(
        "doc_id", "n_tok", "md5(CAST(doc_id AS STRING)) AS shuffle_key"
    )
    # md5 keys are unique per doc, so n_tok rides the rank itself
    # (carry, r12) — the corpus-sized join-back is gone.
    return (
        histogram_cnt_better(
            keyed, "shuffle_key", small_value_space=False, carry=("n_tok",)
        )
        .selectExpr(
            "n_tok", "cnt_better AS pos", f"cnt_better % {TP_SHARDS} AS shard"
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
        )
    )


def _stage_ctes() -> str:
    """The composed pipeline as DuckDB CTEs, stage for stage."""
    feats = ", ".join(gopher_feature_exprs_duck("t"))
    return f"""
toks AS (
  SELECT doc_id, source, text, {TOKENS_DUCK} AS t FROM documents
), feats AS (
  SELECT doc_id, source, text, CAST(len(t) AS BIGINT) AS n_tok, {feats}
  FROM toks
), gated AS (
  SELECT doc_id, source, text, n_tok FROM feats WHERE {GOPHER_KEEP_RULE}
), exact AS (
  SELECT doc_id, source, text, n_tok FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
      AS rn
    FROM gated
  ) WHERE rn = 1
), ptoks AS (
  SELECT doc_id, source, {TOKENS_DUCK} AS t FROM exact
), starts AS (
  SELECT doc_id, source, t, unnest(range(0, len(t), {PAR_WORDS})) AS s
  FROM ptoks
), pars AS (
  SELECT doc_id, source, s // {PAR_WORDS} AS pidx,
         array_to_string(list_slice(t, s + 1, s + {PAR_WORDS}), ' ') AS par
  FROM starts
), kept AS (
  SELECT par, min(doc_id * {PAR_SHIFT} + pidx) AS wk FROM pars GROUP BY par
), rebuilt AS (
  SELECT r.doc_id, e.source, r.n_pars_kept, r.n_tok
  FROM (
    SELECT wk // {PAR_SHIFT} AS doc_id,
           count(*) AS n_pars_kept,
           CAST(sum(len(string_split(par, ' '))) AS BIGINT) AS n_tok
    FROM kept GROUP BY 1
  ) r JOIN exact e USING (doc_id)
), cum AS (
  SELECT doc_id, source, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY source
           ORDER BY {_bucket_duck('doc_id')} ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         sum(n_tok) OVER (PARTITION BY source) AS total_tok
  FROM rebuilt
), sel AS (
  SELECT doc_id, source, n_tok FROM cum
  WHERE cum_before < (total_tok * {TP_BUDGET_PER_MILLE}) // 1000
)"""


TRAINING_PIPELINE_SQL = f"""
WITH {_stage_ctes()}
SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM feats
UNION ALL
SELECT 1, 'gopher_gate', count(*), CAST(sum(n_tok) AS BIGINT) FROM gated
UNION ALL
SELECT 2, 'exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM exact
UNION ALL
SELECT 3, 'paragraph_dedup', count(*), CAST(sum(n_tok) AS BIGINT)
FROM rebuilt
UNION ALL
SELECT 4, 'token_budget', count(*), CAST(sum(n_tok) AS BIGINT) FROM sel
"""

TRAINING_SHARDS_SQL = f"""
WITH {_stage_ctes()},
ranked AS (
  SELECT n_tok,
         row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1
           AS pos
  FROM sel
)
SELECT pos % {TP_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(pos) AS min_pos,
       max(pos) AS max_pos
FROM ranked GROUP BY 1
"""


QUERIES = {
    "training_data_pipeline": training_data_pipeline,
    "training_pipeline_shards": training_pipeline_shards,
}
ORACLE = {
    "training_data_pipeline": TRAINING_PIPELINE_SQL,
    "training_pipeline_shards": TRAINING_SHARDS_SQL,
}
