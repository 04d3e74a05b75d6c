"""Training-run planning operators: curriculum order, span-corruption
accounting, domain mixture weights, and epoch-repeat scheduling.

These are the queries a pretraining run executes AFTER curation (dedup /
quality / selection, covered by `sampling.py` / `quality_filters.py`) and
BEFORE the first optimizer step: in what order do the documents stream
(curriculum), what does the denoising objective cost per document (span
corruption), how should the source mixture be tilted toward hard domains
(DoReMi), and how many times may each source be repeated under a fixed
token budget (data-constrained scaling). The reference engine
(jitsucom/jitsu) has no analogue — these extend the engine's LLM-pipeline
surface the same way `operators/sampling.py` does.

Engine-exactness: every ranking/share/schedule below is computed in
EXACT integer arithmetic after one aggressive quantization seam
(`round(x, 4)` on a float sum, or the `temperature_resample`-style
mass quantization + floor(sqrt) — IEEE sqrt is correctly rounded, so
`floor(sqrt(bigint))` is engine-exact), so Spark and the DuckDB oracle
agree bit-for-bit.

Scale: `curriculum_order` is the registry's second real-data exercise of
the distributed range-exchange prefix rank (`plans/cumsum.py`) — no
single task ever sorts the corpus. The other three are one corpus scan
into a source-sized (~20-row) aggregate with broadcast scalars: the
corpus itself never shuffles.

Papers: curriculum learning (Bengio et al. 2009), T5 span corruption
(Raffel et al. 2020, §3.1.4 / appendix F), DoReMi domain reweighting
(Xie et al. 2023 — linearized tilt here, see below), data-constrained
scaling (Muennighoff et al. 2023).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .text_ops import TOKENS, TOKENS_DUCK

# ---------------------------------------------------------------------------
# Curriculum order: easy -> hard (shorter documents first), deterministic
# md5 shuffle WITHIN each difficulty level, and a phase assignment saying
# which quarter of training consumes the document. The composite sort key
# `lpad(n_tokens) || md5(doc_id)` makes "order by difficulty, shuffled
# within ties" ONE distributed rank over a string key: histogram_cnt_better
# range-exchanges the keys, prefix-sums locally in Arrow, and offsets by
# partition totals — the corpus is never sorted in a single task. The rank
# joins back on the key: a linear sort-merge join of two skinny sides.
# ---------------------------------------------------------------------------

N_PHASES = 4


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.cumsum import histogram_cnt_better

    from ..plans.topk import persist_bounded

    docs = load_table(spark, sf_dir, "documents")
    # r12: persist the skinny keyed frame — the rank's range exchange
    # AND its range-partitioner sampling pass both walk it, and its
    # lineage is the corpus tokenize (guide §5 reuse: tokenize once).
    keyed = persist_bounded(
        docs.selectExpr(
            "doc_id",
            f"CAST(size({TOKENS}) AS BIGINT) AS n_tokens",
            f"concat(lpad(CAST(size({TOKENS}) AS STRING), 9, '0'),"
            " md5(CAST(doc_id AS STRING))) AS ckey",
        )
    )
    # ckey is unique per doc (md5 suffix), so the payload rides the rank
    # itself (carry, r12) — the corpus-sized join-back is gone.
    return histogram_cnt_better(
        keyed, "ckey", small_value_space=False, carry=("doc_id", "n_tokens")
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "cnt_better AS pos",
        f"(cnt_better * {N_PHASES}) div n_total AS phase",
    )


CURRICULUM_ORDER_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tokens,
         lpad(CAST(len({TOKENS_DUCK}) AS VARCHAR), 9, '0')
           || md5(CAST(doc_id AS VARCHAR)) AS ckey
  FROM documents
)
SELECT doc_id, n_tokens,
       row_number() OVER (ORDER BY ckey) - 1 AS pos,
       ((row_number() OVER (ORDER BY ckey) - 1) * {N_PHASES})
         // count(*) OVER () AS phase
FROM keyed
"""


# ---------------------------------------------------------------------------
# T5 span-corruption accounting: for a denoising objective with corruption
# rate 15% and mean noise-span length 3 (the T5 defaults), how long are the
# encoder input and decoder target per document, and does the document fit
# the sentinel vocabulary (100 extra ids)? Pure integer arithmetic on the
# token count: round-half-up via (n*15 + 50) div 100, span count via
# floor((n_corrupt + 1) / 3) (= round(n_corrupt / 3) for every residue
# except the exact .5 tie at 3k+2, where it rounds up — documented choice,
# identical in both engines). inputs_len = n - n_corrupt + n_spans
# (each span collapses to one sentinel), targets_len = n_corrupt +
# n_spans + 1 (sentinels + final EOS). Map-only, scan-side: linear at any
# corpus size.
# ---------------------------------------------------------------------------

CORRUPT_PCT = 15  # T5 default 0.15
MEAN_SPAN = 3  # T5 default 3.0
N_SENTINELS = 100


def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"CAST(size({TOKENS}) AS BIGINT) AS n_tokens",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        f"CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE"
        f" greatest(1L, (n_tokens * {CORRUPT_PCT} + 50) div 100)"
        " END AS BIGINT) AS n_corrupt",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "n_corrupt",
        "CAST(CASE WHEN n_corrupt = 0 THEN 0 ELSE"
        f" greatest(1L, (n_corrupt + 1) div {MEAN_SPAN})"
        " END AS BIGINT) AS n_spans",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "n_corrupt",
        "n_spans",
        "CAST(n_tokens - n_corrupt + n_spans AS BIGINT) AS inputs_len",
        "CAST(CASE WHEN n_corrupt = 0 THEN 0"
        " ELSE n_corrupt + n_spans + 1 END AS BIGINT) AS targets_len",
        f"n_spans <= {N_SENTINELS} AS sentinel_ok",
    )


SPAN_CORRUPTION_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE
           greatest(1, (n_tokens * {CORRUPT_PCT} + 50) // 100)
         END AS BIGINT) AS n_corrupt
  FROM t
), s AS (
  SELECT doc_id, n_tokens, n_corrupt,
         CAST(CASE WHEN n_corrupt = 0 THEN 0 ELSE
           greatest(1, (n_corrupt + 1) // {MEAN_SPAN})
         END AS BIGINT) AS n_spans
  FROM c
)
SELECT doc_id, n_tokens, n_corrupt, n_spans,
       CAST(n_tokens - n_corrupt + n_spans AS BIGINT) AS inputs_len,
       CAST(CASE WHEN n_corrupt = 0 THEN 0
            ELSE n_corrupt + n_spans + 1 END AS BIGINT) AS targets_len,
       n_spans <= {N_SENTINELS} AS sentinel_ok
FROM s
"""


# ---------------------------------------------------------------------------
# DoReMi-style domain mixture weights — linearized tilt. DoReMi upweights
# domains with high EXCESS LOSS (loss under the reference model minus loss
# under a domain-fit model); for unigram LMs that excess is exactly
# KL(P_source || P_corpus), which `source_unigram_kl` already computes.
# DoReMi's multiplicative update is w_s ∝ m_s * exp(eta * excess); exp() is
# not correctly-rounded IEEE and differs across engines, so the tilt here
# is the FIRST-ORDER form w_s ∝ m_s * (1 + eta * KL) with eta = 1 —
# engine-exact after quantizing KL to 1e-4 nats and masses to the
# `temperature_resample` unit (total/1e6), all downstream arithmetic in
# int64 (weight numerator <= ~1e6 * (1e4 + KL_e4) — safe at any corpus
# size). Shares come out in exact per-mille.
#
# Scale: one corpus explode into vocabulary-sized aggregates (the
# `source_unigram_kl` shape), then ~20-row source arithmetic with 1-row
# broadcast totals. The corpus never shuffles beyond the gram aggregate.
# ---------------------------------------------------------------------------


def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr("source", f"explode({TOKENS}) AS tok")
    sw = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_sw"))
    w = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_w"))
    s = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    n = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    kl = (
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
            F.expr("CAST(round(sum(term) * 10000, 0) AS BIGINT)").alias(
                "kl_e4"
            ),
        )
    )
    tot = kl.agg(F.sum("n_tokens").alias("total_tokens"))
    quant = kl.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_tokens",
        "kl_e4",
        "greatest(1L, n_tokens div greatest(1L, total_tokens div 1000000))"
        " AS mu",
    )
    quant = quant.selectExpr(
        "source", "n_tokens", "kl_e4", "mu", "mu * (10000 + kl_e4) AS wnum"
    )
    sums = quant.agg(
        F.sum("mu").alias("mu_sum"), F.sum("wnum").alias("wnum_sum")
    )
    return quant.crossJoin(F.broadcast(sums)).selectExpr(
        "source",
        "n_tokens",
        "kl_e4",
        "(mu * 1000) div mu_sum AS baseline_share_pm",
        "(wnum * 1000) div wnum_sum AS mix_share_pm",
        "(wnum * 1000) div wnum_sum - (mu * 1000) div mu_sum AS delta_pm",
    )


DOMAIN_MIXTURE_SQL = f"""
WITH toks AS (
  SELECT source, unnest({TOKENS_DUCK}) AS tok FROM documents
),
sw AS (SELECT source, tok, count(*) AS c_sw FROM toks GROUP BY 1, 2),
w AS (SELECT tok, count(*) AS c_w FROM toks GROUP BY 1),
s AS (SELECT source, count(*) AS n_s FROM toks GROUP BY 1),
n AS (SELECT count(*) * 1.0 AS n FROM toks),
kl AS (
  SELECT source,
         CAST(max(n_s) AS BIGINT) AS n_tokens,
         CAST(round(sum((c_sw / n_s) * ln((c_sw / n_s) / (c_w / n)))
                    * 10000, 0) AS BIGINT) AS kl_e4
  FROM sw JOIN w USING (tok) JOIN s USING (source), n
  GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM kl),
quant AS (
  SELECT source, n_tokens, kl_e4,
         greatest(1, n_tokens // greatest(1, total_tokens // 1000000)) AS mu
  FROM kl, tot
),
wn AS (
  SELECT source, n_tokens, kl_e4, mu, mu * (10000 + kl_e4) AS wnum
  FROM quant
),
sums AS (
  SELECT CAST(sum(mu) AS BIGINT) AS mu_sum,
         CAST(sum(wnum) AS BIGINT) AS wnum_sum FROM wn
)
SELECT source, n_tokens, kl_e4,
       (mu * 1000) // mu_sum AS baseline_share_pm,
       (wnum * 1000) // wnum_sum AS mix_share_pm,
       (wnum * 1000) // wnum_sum - (mu * 1000) // mu_sum AS delta_pm
FROM wn, sums
"""


# ---------------------------------------------------------------------------
# Data-constrained epoch-repeat plan (Muennighoff et al. 2023): a training
# run with a token budget of BUDGET_MULT x the corpus must repeat data; how
# many epochs does each source run, and what are the repeats worth?
# Allocation uses the alpha = 0.5 temperature-flattened share (the exact
# integer floor(sqrt(mu)) construction from `temperature_resample`), so
# thin curated sources are upsampled before the crawl is repeated.
# Epochs are exact integer per-mille, capped at R_MAX; the value of the
# k-th epoch is a FIXED per-mille utility table (0.6 decay — the paper's
# "value of repeated tokens decays roughly geometrically"), so
# effective_tokens = sum of fully-run epoch utilities + the fractional
# epoch's pro-rata share, all in int64 (t_s * 2459 max — safe to ~3.7e15
# tokens per source).
# ---------------------------------------------------------------------------

BUDGET_MULT = 4
R_MAX = 8
# per-mille utility of epoch k (1-indexed), 0.6 geometric decay, then a 0
# pad so the fractional lookup at full = R_MAX stays in bounds.
EPOCH_UTILITY_PM = [1000, 600, 360, 216, 130, 78, 47, 28, 0]
_UTIL_ARR = "array(" + ", ".join(f"{u}L" for u in EPOCH_UTILITY_PM) + ")"
_UTIL_LIST = "[" + ", ".join(str(u) for u in EPOCH_UTILITY_PM) + "]"


def epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.selectExpr("source", f"CAST(size({TOKENS}) AS BIGINT) AS nt")
        .groupBy("source")
        .agg(F.sum("nt").alias("t_s"))
    )
    tot = per_src.agg(F.sum("t_s").alias("total"))
    quant = per_src.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "t_s",
        "total",
        "greatest(1L, t_s div greatest(1L, total div 1000000)) AS mu",
    )
    quant = quant.selectExpr(
        "source", "t_s", "total",
        "CAST(floor(sqrt(mu)) AS BIGINT) AS s_s",
    )
    ssum = quant.agg(F.sum("s_s").alias("s_sum"))
    alloc = quant.crossJoin(F.broadcast(ssum)).selectExpr(
        "source",
        "t_s",
        f"({BUDGET_MULT}L * total * s_s) div s_sum AS alloc_tokens",
    )
    epochs = alloc.selectExpr(
        "source",
        "t_s AS n_tokens",
        "alloc_tokens",
        f"least({R_MAX}000L, (alloc_tokens * 1000) div t_s) AS epochs_pm",
        f"(alloc_tokens * 1000) div t_s > {R_MAX}000L AS repeat_capped",
    )
    return epochs.selectExpr(
        "source",
        "n_tokens",
        "alloc_tokens",
        "epochs_pm",
        "repeat_capped",
        "(n_tokens * ("
        f"  aggregate(slice({_UTIL_ARR}, 1, CAST(epochs_pm div 1000 AS INT)),"
        "             0L, (a, x) -> a + x)"
        f"  + ((epochs_pm % 1000) * element_at({_UTIL_ARR},"
        "        CAST(epochs_pm div 1000 AS INT) + 1)) div 1000"
        ")) div 1000 AS effective_tokens",
    )


EPOCH_REPEAT_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(sum(len({TOKENS_DUCK})) AS BIGINT) AS t_s
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(t_s) AS BIGINT) AS total FROM per_src),
quant AS (
  SELECT source, t_s, total,
         CAST(floor(sqrt(greatest(1, t_s // greatest(1, total // 1000000))))
              AS BIGINT) AS s_s
  FROM per_src, tot
),
ssum AS (SELECT CAST(sum(s_s) AS BIGINT) AS s_sum FROM quant),
alloc AS (
  SELECT source, t_s,
         ({BUDGET_MULT} * total * s_s) // s_sum AS alloc_tokens
  FROM quant, ssum
),
epochs AS (
  SELECT source, t_s AS n_tokens, alloc_tokens,
         least({R_MAX}000, (alloc_tokens * 1000) // t_s) AS epochs_pm,
         (alloc_tokens * 1000) // t_s > {R_MAX}000 AS repeat_capped
  FROM alloc
)
SELECT source, n_tokens, alloc_tokens, epochs_pm, repeat_capped,
       CAST((n_tokens * (
         CAST(coalesce(list_sum(list_slice({_UTIL_LIST},
                             1, CAST(epochs_pm // 1000 AS INT))), 0)
              AS BIGINT)
         + ((epochs_pm % 1000)
            * list_extract({_UTIL_LIST},
                           CAST(epochs_pm // 1000 AS INT) + 1)) // 1000
       )) // 1000 AS BIGINT) AS effective_tokens
FROM epochs
"""


# ---------------------------------------------------------------------------
# Fill-in-the-middle split plan (Bavarian et al. 2022 — "FIM"): the
# decoder-only infilling objective transforms a configurable fraction of
# documents (default 50%) by cutting (prefix, middle, suffix) at two
# uniform split points and reordering to PSM or SPM with 3 sentinels.
# The per-document decisions here are the md5-draw construction every
# sampling entry uses (substring of md5 -> uint, engine-exact): one draw
# gates the transform, one picks PSM vs SPM, two pick the cut points in
# [0, n_tokens]. All arithmetic is integer; the plan is map-only
# scan-side work — linear at any corpus size.
# ---------------------------------------------------------------------------

FIM_RATE_PCT = 50


def _draw(prefix: str) -> str:
    """Spark: uniform uint in [0, 16^7) from a salted md5 of doc_id."""
    return (
        f"CAST(conv(substring(md5(concat('{prefix}-',"
        " CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT)"
    )


def _draw_duck(prefix: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{prefix}-'"
        " || CAST(doc_id AS VARCHAR)), 1, 7))::UBIGINT AS BIGINT)"
    )


def fim_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"CAST(size({TOKENS}) AS BIGINT) AS n_tokens",
        f"{_draw('fim')} % 100 < {FIM_RATE_PCT} AS fim_applied",
        f"{_draw('mode')} % 2 AS mode_draw",
        f"{_draw('cut1')} AS d1",
        f"{_draw('cut2')} AS d2",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "fim_applied",
        "CASE WHEN NOT fim_applied THEN 'none'"
        " WHEN mode_draw = 0 THEN 'psm' ELSE 'spm' END AS mode",
        "CASE WHEN fim_applied THEN least(d1 % (n_tokens + 1),"
        " d2 % (n_tokens + 1)) ELSE 0L END AS prefix_len",
        "CASE WHEN fim_applied THEN greatest(d1 % (n_tokens + 1),"
        " d2 % (n_tokens + 1)) - least(d1 % (n_tokens + 1),"
        " d2 % (n_tokens + 1)) ELSE 0L END AS middle_len",
        "CASE WHEN fim_applied THEN n_tokens"
        " - greatest(d1 % (n_tokens + 1), d2 % (n_tokens + 1))"
        " ELSE 0L END AS suffix_len",
        "n_tokens + CASE WHEN fim_applied THEN 3 ELSE 0 END AS out_len",
    )


FIM_SPLIT_SQL = f"""
WITH drawn AS (
  SELECT doc_id,
         CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tokens,
         {_draw_duck('fim')} % 100 < {FIM_RATE_PCT} AS fim_applied,
         {_draw_duck('mode')} % 2 AS mode_draw,
         {_draw_duck('cut1')} AS d1,
         {_draw_duck('cut2')} AS d2
  FROM documents
)
SELECT doc_id, n_tokens, fim_applied,
       CASE WHEN NOT fim_applied THEN 'none'
            WHEN mode_draw = 0 THEN 'psm' ELSE 'spm' END AS mode,
       CASE WHEN fim_applied THEN least(d1 % (n_tokens + 1),
            d2 % (n_tokens + 1)) ELSE 0 END AS prefix_len,
       CASE WHEN fim_applied THEN greatest(d1 % (n_tokens + 1),
            d2 % (n_tokens + 1)) - least(d1 % (n_tokens + 1),
            d2 % (n_tokens + 1)) ELSE 0 END AS middle_len,
       CASE WHEN fim_applied THEN n_tokens
            - greatest(d1 % (n_tokens + 1), d2 % (n_tokens + 1))
            ELSE 0 END AS suffix_len,
       n_tokens + CASE WHEN fim_applied THEN 3 ELSE 0 END AS out_len
FROM drawn
"""


# ---------------------------------------------------------------------------
# Multi-epoch order manifest: the artifact a data-constrained training run
# actually consumes — every (doc, epoch) occurrence under
# `epoch_repeat_plan`'s per-source schedule, in a global per-epoch
# reshuffled order. Full epochs replicate every source doc; the final
# FRACTIONAL epoch admits a doc iff its epoch-salted md5 bucket clears the
# per-mille remainder (so the fraction is an unbiased deterministic
# subset, different docs per run-through than any full epoch's order).
#
# Scale: the manifest is skinny (doc_id, epoch) — replication happens
# AFTER text is dropped, bounded by R_MAX copies; the global position is
# one distributed range-exchange prefix rank over the composite
# (epoch, salted-md5) key — no single-task sort of the multi-epoch
# permutation. The per-source schedule joins in as a broadcast dim.
# ---------------------------------------------------------------------------


def multi_epoch_order_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.cumsum import histogram_cnt_better
    from ..plans.topk import persist_bounded

    # persist the source-sized schedule: the manifest walks its lineage
    # from both sides of the rank join (plus the histogram), and each
    # re-evaluation would otherwise repeat epoch_repeat_plan's full
    # corpus scan — 4 scans instead of 2 (r11 plan spot-check)
    sched = persist_bounded(
        epoch_repeat_plan(spark, sf_dir).selectExpr(
            "source",
            "CAST(epochs_pm div 1000 AS INT) AS full_epochs",
            "epochs_pm % 1000 AS frac_pm",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    copies = docs.join(F.broadcast(sched), "source").selectExpr(
        "doc_id",
        "full_epochs + CASE WHEN"
        " CAST(conv(substring(md5(concat('epoch-', CAST(full_epochs + 1"
        " AS STRING), '-', CAST(doc_id AS STRING))), 1, 7), 16, 10)"
        " AS BIGINT) % 1000 < frac_pm THEN 1 ELSE 0 END AS n_copies",
    )
    occ = copies.selectExpr(
        "doc_id",
        "explode(CASE WHEN n_copies >= 1 THEN sequence(1, n_copies)"
        " ELSE array() END) AS epoch",
    )
    # r12: persist the skinny occurrence keys — the rank's range
    # exchange and its range-partitioner sampling pass both walk this
    # lineage (broadcast schedule join + epoch explode + md5), so
    # without the persist it evaluates twice.
    keyed = persist_bounded(
        occ.selectExpr(
            "doc_id",
            "epoch",
            "concat(lpad(CAST(epoch AS STRING), 2, '0'),"
            " md5(concat(CAST(epoch AS STRING), '-', CAST(doc_id AS"
            " STRING)))) AS okey",
        )
    )
    # okey is unique per (doc, epoch) occurrence, so both payload
    # columns ride the rank itself (carry, r12) — the join-back is gone.
    return histogram_cnt_better(
        keyed, "okey", small_value_space=False, carry=("doc_id", "epoch")
    ).selectExpr(
        "doc_id", "CAST(epoch AS BIGINT) AS epoch", "cnt_better AS pos",
        f"cnt_better % {N_ORDER_SHARDS_MANIFEST} AS shard",
    )


N_ORDER_SHARDS_MANIFEST = 16

_EPOCH_DRAW_DUCK = (
    "CAST(('0x' || substr(md5('epoch-' || CAST(full_epochs + 1 AS VARCHAR)"
    " || '-' || CAST(doc_id AS VARCHAR)), 1, 7))::UBIGINT AS BIGINT) % 1000"
)

MULTI_EPOCH_MANIFEST_SQL = f"""
WITH sched AS (
  SELECT source,
         CAST(epochs_pm // 1000 AS INT) AS full_epochs,
         epochs_pm % 1000 AS frac_pm
  FROM ({EPOCH_REPEAT_SQL})
),
copies AS (
  SELECT doc_id,
         full_epochs + CASE WHEN {_EPOCH_DRAW_DUCK} < frac_pm
                            THEN 1 ELSE 0 END AS n_copies
  FROM documents JOIN sched USING (source)
),
occ AS (
  SELECT doc_id, CAST(u.epoch AS BIGINT) AS epoch
  FROM copies, unnest(CASE WHEN n_copies >= 1
                           THEN range(1, n_copies + 1)
                           ELSE [] END) AS u(epoch)
),
keyed AS (
  SELECT doc_id, epoch,
         lpad(CAST(epoch AS VARCHAR), 2, '0')
           || md5(CAST(epoch AS VARCHAR) || '-' || CAST(doc_id AS VARCHAR))
           AS okey
  FROM occ
)
SELECT doc_id, epoch,
       row_number() OVER (ORDER BY okey) - 1 AS pos,
       (row_number() OVER (ORDER BY okey) - 1)
         % {N_ORDER_SHARDS_MANIFEST} AS shard
FROM keyed
"""


QUERIES = {
    "curriculum_order": curriculum_order,
    "fim_split_plan": fim_split_plan,
    "multi_epoch_order_manifest": multi_epoch_order_manifest,
    "span_corruption_plan": span_corruption_plan,
    "domain_mixture_weights": domain_mixture_weights,
    "epoch_repeat_plan": epoch_repeat_plan,
}
ORACLE = {
    "curriculum_order": CURRICULUM_ORDER_SQL,
    "fim_split_plan": FIM_SPLIT_SQL,
    "multi_epoch_order_manifest": MULTI_EPOCH_MANIFEST_SQL,
    "span_corruption_plan": SPAN_CORRUPTION_SQL,
    "domain_mixture_weights": DOMAIN_MIXTURE_SQL,
    "epoch_repeat_plan": EPOCH_REPEAT_SQL,
}
