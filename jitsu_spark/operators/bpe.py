"""Trained-BPE token counting: token budgets under a REAL merges table,
not just the pre-tokenizer estimate (`text_ops.bpe_token_count`).

Capability context: the reference pipeline treats per-event scalar
transforms as plan operators (`libs/core-functions/src/functions/lib/
strings.ts:11-35`); this is the corpus-scale member a token-budgeted
training pipeline needs — "how many tokens is this corpus under MY
tokenizer" — parameterized by a (rank, left, right) merges table like
GPT-2's merges.txt.

Algorithm note (why the chain form is correct BPE): trained merges have
the creation-order property — rule r's operands are single characters or
symbols created by rules with rank < r. Therefore applying the rules IN
RANK ORDER, each as one left-to-right replace-all pass, produces the
same segmentation as the GPT-2 encode loop (repeatedly merge the
lowest-rank pair present): once rule r has run, no later rule can create
a new occurrence of any rule <= r's pair. The chain form additionally
requires left != right per rule (enforced): same-symbol rules make pair
occurrences OVERLAP on runs, and leftmost-greedy run pairing is not
expressible as string replace (nor as RE2, which lacks lookahead) — the
mapInPandas encoder handles those, and real tables need it anyway.
Within that contract, fixture-scale BPE is
expressible as a CHAIN OF replace() EXPRESSIONS over a delimited
character string — whole-stage codegen, zero Python, and an exact DuckDB
oracle (the same chain) — while big merges tables (50k rules = 50k
nested expressions is not a plan) take the broadcast + mapInPandas
GPT-2 encoder, proven equal to the chain on the fixture.

Scale: both forms are map-only over the corpus — no shuffle, no
driver materialization beyond the O(vocab) merges collect that feeds
the broadcast (FAISS-style bounded contract: merges tables are ~50k
rows regardless of corpus size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

# Symbol / word-boundary delimiters for the expression form. Control
# characters: never produced by the synthetic corpus and never part of a
# merge symbol, so merges cannot span them. Documents containing them
# would need remapping first (production would use the mapInPandas form
# anyway).
_SYM = "\x1f"  # terminates every symbol
_WB = "\x1e"  # replaces whitespace runs (words never merge across it)

# Deterministic fixture merges (rank, left, right): common English
# bigraphs plus two second-order rules, ordered so every operand is a
# character or the product of a strictly earlier rule — the creation-
# order property real trained merges have by construction.
FIXTURE_MERGES: list[tuple[int, str, str]] = [
    (0, "t", "h"),
    (1, "th", "e"),   # uses rank-0's output
    (2, "i", "n"),
    (3, "a", "n"),
    (4, "e", "r"),
    (5, "o", "n"),
    (6, "r", "e"),
    (7, "e", "n"),
    (8, "a", "t"),
    (9, "o", "r"),
    (10, "an", "d"),  # uses rank-3's output
    (11, "in", "g"),  # uses rank-2's output
    (12, "e", "s"),
    (13, "o", "u"),
    (14, "i", "s"),
    (15, "i", "t"),
    (16, "a", "l"),
    (17, "l", "e"),
    (18, "c", "h"),
    (19, "s", "t"),
]


# -- GPT-2 byte-level pre-tokenization (r6 review item 4) --------------------
#
# Real GPT-2 does not split on whitespace: it pre-tokenizes with a
# contraction/category regex and maps each pre-token's UTF-8 bytes
# through a printable-unicode alphabet before merging (Radford et al.
# 2019 encoder; the regex and bytes_to_unicode construction are public).
# Both are available behind `pre_tokenizer="gpt2"` on the pandas encoder
# and the training word table; the default stays "whitespace" so every
# existing oracle contract is byte-identical.
#
# The SAME pattern string drives both sides: Python's `regex` module
# (which, like the original, supports \p{L}/\p{N}) in the encoder, and
# Java's regex in the distributed word table — with (?U) prepended on
# the Java side so \s means Unicode whitespace there too (Java defaults
# \s to ASCII; Python regex and GPT-2 use the Unicode class). Known
# residual divergence: none for the curated parity set in
# tests/test_bpe.py; both engines implement the Unicode categories.

GPT2_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
    r"|\s+(?!\S)|\s+"
)


def gpt2_pre_tokenize(text: str) -> list[str]:
    """The GPT-2 pre-token list. Lossless: the pre-tokens concatenate
    back to exactly the input (property-tested)."""
    import regex

    return regex.findall(GPT2_PRETOKEN_PATTERN, text)


def bytes_to_unicode() -> dict[int, str]:
    """GPT-2's reversible byte -> printable-unicode-char map: the 188
    printable latin-1 bytes map to themselves, the rest to 256+i — a
    bijection over all 256 byte values, so byte-level BPE can treat any
    UTF-8 string as a sequence of 'characters' with no unknowns."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, map(chr, cs)))


def _byte_level_word(word: str, b2u: dict[int, str]) -> str:
    return "".join(b2u[b] for b in word.encode("utf-8"))


def merges_fixture_df(spark: SparkSession) -> DataFrame:
    """The fixture as the (rank, left, right) merges-table contract both
    encode forms accept."""
    return spark.createDataFrame(
        FIXTURE_MERGES, "rank int, left string, right string"
    )


def canonicalize_merges(
    merges,
) -> list[tuple[int, str, str]]:
    """Min-rank-wins dedup per (left, right), returned sorted by rank.

    A TRAINED table can never contain the same pair at two ranks (merging
    a pair zeroes its adjacency count, and merges only concatenate, so a
    consumed single-symbol adjacency is never re-created —
    `learn_bpe_merges` cannot emit duplicates). But the merges-table
    contract accepts user-supplied tables, and the two encode forms
    resolved duplicates differently (the replace chain applied the
    FIRST-rank copy first and the later copies were no-ops; the pandas
    encoder's dict build let the LAST rank win), silently breaking their
    pinned-equal contract. Both paths now canonicalize here — keep the
    minimum rank per pair, which matches both real BPE semantics and the
    chain's effective behavior. Dedup preserves the creation-order
    property: a pair's first occurrence references operands created by
    strictly earlier rules, whose own first occurrences sit at ranks no
    later than the referenced ones."""
    best: dict[tuple[str, str], int] = {}
    for rank, left, right in merges:
        p = (left, right)
        if p not in best or rank < best[p]:
            best[p] = rank
    return sorted((r, l, rt) for (l, rt), r in best.items())


def _check_chain_merges(merges: list[tuple[int, str, str]]) -> None:
    """The expression chain is exact ONLY for rules with left != right.

    For distinct operands, adjacent pair occurrences are character-
    disjoint: a pass-1 miss (its leading delimiter consumed by the
    previous match's trailing one) stays at the SAME token pair and is
    isolated, so the second pass completes replace-all exactly. For a
    SAME-symbol rule (a, a), occurrences overlap on a run of a's, and a
    left-to-right string scan that loses one boundary delimiter re-pairs
    the run wrongly ('aaaaaa' -> aa,a,aa,a instead of the merge loop's
    aa,aa,aa) — and no fixed number of replace passes can express
    leftmost-greedy run pairing (RE2 has no lookahead, so the oracle
    cannot either). Real trained tables DO contain same-symbol rules
    (GPT-2 merges whitespace/dash runs), so the chain refuses them
    loudly instead of miscounting silently; `bpe_token_count_pandas` —
    the intended path for real tables — handles them exactly."""
    for _, left, right in merges:
        if left == right:
            raise ValueError(
                f"merge rule ({left!r}, {right!r}) has identical operands:"
                " same-symbol runs are not expressible as a replace chain"
                " — use bpe_token_count_pandas"
            )


def bpe_symbol_chain(
    text: Column, merges: list[tuple[int, str, str]]
) -> Column:
    """The delimited symbol string after applying `merges` in rank order
    — each rule one replace() pass (left-to-right, non-overlapping, the
    BPE replace-all semantics in both Spark and DuckDB). Duplicate-pair
    tables canonicalize to min-rank-wins (`canonicalize_merges`); refuses
    same-symbol rules (`_check_chain_merges`)."""
    merges = canonicalize_merges(merges)
    _check_chain_merges(merges)
    col = F.regexp_replace(text, r"\s+", _WB)
    # every symbol both PRECEDED and FOLLOWED by the delimiter: a char
    # split leaves only trailing delimiters, under which the pair pattern
    # "e<d>n<d>" would false-match inside "...the<d>n<d>" (the left symbol
    # as a SUFFIX of a longer one). The prepended delimiter plus the WB
    # chars' own trailing delimiters give every symbol its leading one.
    col = F.concat(F.lit(_SYM), F.regexp_replace(col, "(.)", "$1" + _SYM))
    for _, left, right in sorted(merges):
        # TWO passes per rule: adjacent occurrences share their boundary
        # delimiter, so a single left-to-right pass consumes the next
        # occurrence's leading delimiter and skips it. With left != right
        # (enforced above) occurrences are character-disjoint, a pass-1
        # miss always immediately FOLLOWS a pass-1 match at an unchanged
        # position, so misses are isolated and one more pass catches
        # every one — two passes are exactly replace-all (leftmost-
        # greedy, the BPE merge order).
        for _ in range(2):
            col = F.replace(
                col,
                F.lit(_SYM + left + _SYM + right + _SYM),
                F.lit(_SYM + left + right + _SYM),
            )
    return col


def _count_char(col: str, ch: str) -> str:
    return f"(length({col}) - length(replace({col}, '{ch}', '')))"


def bpe_token_count_expr(
    docs: DataFrame, merges: list[tuple[int, str, str]]
) -> DataFrame:
    """(doc_id, n_tokens) under the merges table, pure expressions.
    Token count = symbol terminators minus word boundaries (each
    whitespace run contributes exactly one delimited boundary symbol)."""
    from ..plans.scan import fan_out_scan

    sym = bpe_symbol_chain(F.col("text"), merges).alias("s")
    # r12 (guide §2.5): the replace chain is heavy per-row compute —
    # spread the narrow projection across cores when the scan arrives as
    # one unsplittable row group (no-op for well-split inputs).
    docs = fan_out_scan(docs.select("doc_id", "text"))
    # delimiters = one per symbol + one per word boundary + the leading one
    return docs.select("doc_id", sym).selectExpr(
        "doc_id",
        f"CAST({_count_char('s', _SYM)} - {_count_char('s', _WB)} - 1"
        " AS BIGINT) AS n_tokens",
    )


def bpe_token_count_pandas(
    docs: DataFrame,
    merges_df: DataFrame,
    text_col: str = "text",
    pre_tokenizer: str = "whitespace",
) -> DataFrame:
    """(doc_id, n_tokens): the GPT-2 encode loop over a broadcast ranks
    dict — the scale path for real merges tables, where 50k rules cannot
    be 50k nested expressions. One Arrow-batched map pass; per-word
    memoization amortizes the loop over Zipf-repeated words.

    pre_tokenizer="whitespace" (default, the oracle-pinned contract)
    splits on ASCII \\s+; "gpt2" applies the real GPT-2 regime — the
    contraction/category regex plus the byte-level alphabet, so the
    merges table is interpreted over byte-level symbols and with an
    EMPTY table the count equals the text's UTF-8 byte length (the
    byte-fallback property, pinned in tests)."""
    if pre_tokenizer not in ("whitespace", "gpt2"):
        raise ValueError(f"unknown pre_tokenizer {pre_tokenizer!r}")
    ranks = {
        (left, right): rank
        for rank, left, right in canonicalize_merges(
            (r["rank"], r["left"], r["right"])
            for r in merges_df.select("rank", "left", "right").collect()
        )
    }
    bc = docs.sparkSession.sparkContext.broadcast(ranks)

    def encode(batches):
        import pandas as pd

        rk = bc.value
        from functools import lru_cache

        @lru_cache(maxsize=1 << 16)
        def count_word(w: str) -> int:
            syms: tuple[str, ...] = tuple(w)
            while len(syms) > 1:
                present = {
                    (syms[i], syms[i + 1]) for i in range(len(syms) - 1)
                } & rk.keys()
                if not present:
                    break
                a, b = min(present, key=rk.__getitem__)
                out: list[str] = []
                i = 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = tuple(out)
            return len(syms)

        if pre_tokenizer == "gpt2":
            import regex as _regex

            pat = _regex.compile(GPT2_PRETOKEN_PATTERN)
            b2u = bytes_to_unicode()

            def split_words(t):
                return [
                    _byte_level_word(w, b2u) for w in pat.findall(t)
                ]

        else:
            import re as _re

            # ASCII \s+ to match the chain form's Java regex default —
            # Python str.split() is Unicode-aware (NBSP etc.) and would
            # diverge on scraped web text
            _ws = _re.compile(r"\s+", _re.ASCII)

            def split_words(t):
                return [w for w in _ws.split(t) if w]

        for pdf in batches:
            n = pdf[text_col].map(
                lambda t: sum(count_word(w) for w in split_words(t))
            )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_tokens": n.astype("int64")}
            )

    return docs.select("doc_id", text_col).mapInPandas(
        encode, "doc_id long, n_tokens long"
    )


# -- BPE merges TRAINING -----------------------------------------------------
#
# Learning the merges table itself, completing the tokenizer family
# (train -> count -> budget). The scalable shape is the one real BPE
# trainers use (Sennrich 2016; HuggingFace tokenizers trains from word
# counts): the corpus-sized work is ONE distributed word-frequency
# aggregation — map-side partial agg, single shuffle on word — and the
# iterative merge loop runs over the aggregated (word, freq) table,
# whose size is Zipf-bounded by distinct-word count, not corpus bytes.
# A top-V cap (count desc, word asc — deterministic) bounds driver
# memory by contract, exactly like PQ_TRAIN_MAX_SAMPLE bounds Lloyd
# training in `pq.py`: at 100 TB the head of the word distribution
# carries virtually all pair mass, so truncating the tail perturbs
# low-rank merges only.

BPE_TRAIN_MAX_WORDS = 200_000


def word_frequency_table(
    docs: DataFrame,
    text_col: str = "text",
    max_words: int = BPE_TRAIN_MAX_WORDS,
    pre_tokenizer: str = "whitespace",
) -> DataFrame:
    """(word, freq) — the distributed stage of BPE training.

    pre_tokenizer="whitespace": ASCII `\\s+` split to match both encode
    forms. "gpt2": the GPT-2 contraction/category regex, run JVM-SIDE
    via regexp_extract_all with the SAME pattern string the Python
    encoder compiles ((?U) prepended so Java's \\s is Unicode like
    Python regex's) — rows stay raw pre-tokens; the trainer applies the
    byte-level alphabet (`learn_bpe_merges`). The top-V cap runs as
    TakeOrdered (per-partition top-V, then merge) — no global sort."""
    if pre_tokenizer == "gpt2":
        from ..plans.scan import fan_out_scan

        # r12 (guide §2.5): same fan-out as the whitespace branch — the
        # pre-token regex is the heavy per-row step
        words = fan_out_scan(docs.select(text_col)).select(
            F.explode(
                F.regexp_extract_all(
                    F.col(text_col),
                    F.lit("(?U)" + GPT2_PRETOKEN_PATTERN),
                    F.lit(0),
                )
            ).alias("word")
        )
    elif pre_tokenizer == "whitespace":
        from ..plans.scan import fan_out_scan

        # r12 (guide §2.5): the split+explode otherwise runs inside the
        # single-split scan stage; fan the narrow text column out first
        words = fan_out_scan(docs.select(text_col)).select(
            F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
        ).where(F.col("word") != "")
    else:
        raise ValueError(f"unknown pre_tokenizer {pre_tokenizer!r}")
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    return counts.orderBy(F.desc("freq"), F.asc("word")).limit(max_words)


def _train_merges_from_counts(
    wc: list[tuple[str, int]],
    n_merges: int,
    min_pair_freq: int = 2,
    exclude_same_symbol: bool = False,
) -> list[tuple[int, str, str]]:
    """The driver-side merge loop over an aggregated word-frequency list.

    Incremental pair-count maintenance (only words containing the chosen
    pair are re-segmented per round). Deterministic by construction:
    best pair = highest total freq, ties broken by (left, right)
    ascending — pinned against a recount-from-scratch reference in
    `tests/test_bpe.py`. Stops early when no pair reaches
    `min_pair_freq` (merging hapax pairs memorizes noise)."""
    words: list[list[str]] = [list(w) for w, _ in wc]
    freqs = [f for _, f in wc]

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}

    def add_word_pairs(idx: int, sign: int) -> None:
        syms, f = words[idx], freqs[idx]
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + sign * f
            if sign > 0:
                pair_words.setdefault(p, set()).add(idx)

    for i in range(len(words)):
        add_word_pairs(i, +1)

    merges: list[tuple[int, str, str]] = []
    for rank in range(n_merges):
        best: tuple[str, str] | None = None
        best_n = min_pair_freq - 1
        for p, n in pair_counts.items():
            if exclude_same_symbol and p[0] == p[1]:
                # chain-expressible training (r9): same-symbol rules are
                # exactly the ones `_check_chain_merges` refuses, so the
                # variant that feeds the replace-chain apply path (and
                # its SQL oracle twin) never selects them as candidates
                continue
            if n > best_n or (n == best_n and best is not None and p < best):
                best, best_n = p, n
        if best is None:
            break
        a, b = best
        merges.append((rank, a, b))
        merged = a + b
        for idx in sorted(pair_words.get(best, ())):
            syms = words[idx]
            add_word_pairs(idx, -1)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[idx] = out
            add_word_pairs(idx, +1)
        # prune zero/negative residue so the argmax scan stays O(live pairs)
        for p in [p for p, n in pair_counts.items() if n <= 0]:
            del pair_counts[p]
            pair_words.pop(p, None)
        pair_words.pop(best, None)
        pair_counts.pop(best, None)
    return merges


# Driver-artifact memo for the trainer's word-count collect (r12) —
# keyed on the freshness-aware plan fingerprint, bounded, cleared
# wholesale at the cap like pq._PQ_ART_MEMO.
_WC_MEMO: dict[tuple, tuple] = {}
_WC_MEMO_CAP = 16


def _wc_memo(df: DataFrame, build):
    from ..plans.store_memo import plan_fingerprint

    fp = plan_fingerprint(df)
    if fp is not None and fp in _WC_MEMO:
        return _WC_MEMO[fp]
    val = build()
    if fp is not None:
        if len(_WC_MEMO) >= _WC_MEMO_CAP:
            _WC_MEMO.clear()
        _WC_MEMO[fp] = val
    return val


def _learn_merges_list(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_words: int = BPE_TRAIN_MAX_WORDS,
    min_pair_freq: int = 2,
    pre_tokenizer: str = "whitespace",
    exclude_same_symbol: bool = False,
) -> list[tuple[int, str, str]]:
    """Driver-side trainer: the (rank, left, right) merge list
    `learn_bpe_merges` wraps in a DataFrame. Split out (r12) so
    driver-side consumers (`bpe_learned_token_count`'s replace chain)
    use the list directly instead of a createDataFrame -> collect
    round trip over a local relation (~0.4 s of pure py4j per warm
    construction)."""
    # r12: the word-count collect is a bounded O(max_words) driver
    # artifact that re-ran its corpus job on every warm construction
    # (~0.3-0.4 s per BPE-training entry). Memoized on the freshness-
    # aware plan fingerprint (same discipline as pq._art_memo /
    # tables.load_table): the key covers the documents parquet's
    # mtime/size and the max_words/pre_tokenizer literals, and the memo
    # stores an immutable tuple BEFORE the trainer's in-place fold/sort.
    wf = word_frequency_table(docs, text_col, max_words, pre_tokenizer)
    wc = list(
        _wc_memo(
            wf,
            lambda: tuple((r["word"], r["freq"]) for r in wf.collect()),
        )
    )
    if pre_tokenizer == "gpt2":
        b2u = bytes_to_unicode()
        folded: dict[str, int] = {}
        for w, f in wc:
            bw = _byte_level_word(w, b2u)
            folded[bw] = folded.get(bw, 0) + f
        wc = list(folded.items())
    # collect() order is the TakeOrdered order, but re-sort defensively:
    # the trainer's determinism must not depend on partition arrival.
    wc.sort(key=lambda t: (-t[1], t[0]))
    merges = _train_merges_from_counts(
        wc, n_merges, min_pair_freq, exclude_same_symbol
    )
    return merges


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_words: int = BPE_TRAIN_MAX_WORDS,
    min_pair_freq: int = 2,
    pre_tokenizer: str = "whitespace",
    exclude_same_symbol: bool = False,
) -> DataFrame:
    """(rank, left, right) — a trained merges table in exactly the
    contract `bpe_token_count_pandas` consumes (train and count with the
    SAME pre_tokenizer). Corpus-scale work is the one word-count
    shuffle; the collect is bounded at `max_words` rows. In gpt2 mode
    the collected pre-tokens map through the byte-level alphabet before
    training, so the merges are byte-level symbols — the same domain the
    gpt2 encoder merges over."""
    merges = _learn_merges_list(
        docs,
        n_merges,
        text_col,
        max_words,
        min_pair_freq,
        pre_tokenizer,
        exclude_same_symbol,
    )
    return docs.sparkSession.createDataFrame(
        merges or [], "rank int, left string, right string"
    )


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: learn 48 merges from the documents corpus.

    Rows-only (the iterative argmax loop has no SQL form); the hard
    gates live in `tests/test_bpe.py`: recount-from-scratch reference
    parity, repartition invariance, and an end-to-end check that the
    learned table drives `bpe_token_count_pandas` to strictly fewer
    tokens than the character baseline."""
    docs = load_table(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, n_merges=48)


# --------------------------------------------------------------------------
# Learned-merges oracle companion (round 9, VERDICT r8 #4): the pure
# trainer entry (`bpe_learn_merges`) stays rows-only — but the TRAIN ->
# APPLY composition is fully oracle-checkable once the candidate space is
# restricted to chain-expressible rules (left != right, exactly the set
# `_check_chain_merges` accepts). The DuckDB twin replays the ENTIRE
# training loop unrolled in SQL — per-iteration adjacent-pair stats over
# the delimited word table, argmax with the trainer's exact tie-break
# (count DESC, then (left, right) ascending — UTF-8 byte order ==
# codepoint order), merge application as the same two-pass delimiter
# replace — then applies each learned rule to the documents via scalar
# subqueries. Every intermediate CTE is MATERIALIZED: inlined CTEs would
# re-expand the recursive words chain exponentially.
# Small caps keep both engines fast: the oracle's cost is
# O(iterations x vocab_cap) plus one doc chain.
LEARNED_N_MERGES = 24
LEARNED_VOCAB_CAP = 2000
LEARNED_MIN_PAIR_FREQ = 2


def bpe_learned_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: train LEARNED_N_MERGES chain-expressible merges
    from the corpus (same-symbol candidates excluded — the rules
    `_check_chain_merges` refuses), then count per-doc tokens under them
    via the oracle-pinned replace chain. End-to-end oracle check of the
    learn -> apply composition; the unrestricted trainer's extra
    guarantees stay pinned in `tests/test_bpe.py`."""
    docs = load_table(spark, sf_dir, "documents")
    # r12: consume the trainer's list directly — the previous
    # createDataFrame -> collect round trip over the 24-row local
    # relation was ~0.4 s of pure py4j per warm construction.
    merges = _learn_merges_list(
        docs,
        n_merges=LEARNED_N_MERGES,
        max_words=LEARNED_VOCAB_CAP,
        min_pair_freq=LEARNED_MIN_PAIR_FREQ,
        exclude_same_symbol=True,
    )
    return bpe_token_count_expr(docs, merges)


def _learned_chain_duck(
    n_merges: int = LEARNED_N_MERGES,
    vocab_cap: int = LEARNED_VOCAB_CAP,
    min_freq: int = LEARNED_MIN_PAIR_FREQ,
) -> str:
    """The full unrolled training + apply loop as one DuckDB query (see
    the block comment above). chr(1) is the never-matching sentinel for
    early-stopped iterations (no candidate pair reaches min_freq), so a
    trailing no-op iteration leaves words/docs unchanged — matching the
    trainer's break."""
    S, WB = "chr(31)", "chr(30)"

    def pat(i: int) -> str:
        return (
            f"coalesce((SELECT {S} || a || {S} || b || {S} FROM m{i}),"
            " chr(1))"
        )

    def rep(i: int) -> str:
        return f"coalesce((SELECT {S} || a || b || {S} FROM m{i}), chr(1))"

    ctes = [
        f"""w0 AS MATERIALIZED (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word
        FROM documents)
  WHERE word <> ''
  GROUP BY word ORDER BY freq DESC, word LIMIT {vocab_cap}
), words0 AS MATERIALIZED (
  SELECT {S} || regexp_replace(word, '(.)', '\\1' || {S}, 'g') AS w, freq
  FROM w0
)"""
    ]
    for i in range(n_merges):
        ctes.append(
            f"""stats{i} AS MATERIALIZED (
  SELECT l[g] AS a, l[g+1] AS b, sum(freq) AS f
  FROM (SELECT string_split(w, {S}) AS l, freq FROM words{i}) s,
       LATERAL (SELECT unnest(generate_series(2, len(s.l) - 2)) AS g) t
  GROUP BY 1, 2
), m{i} AS MATERIALIZED (
  SELECT a, b FROM stats{i} WHERE a <> b AND f >= {min_freq}
  ORDER BY f DESC, a, b LIMIT 1
), words{i + 1} AS MATERIALIZED (
  SELECT replace(replace(w, {pat(i)}, {rep(i)}), {pat(i)}, {rep(i)}) AS w,
         freq
  FROM words{i}
)"""
        )
    ctes.append(
        f"""d0 AS MATERIALIZED (
  SELECT doc_id,
         {S} || regexp_replace(regexp_replace(text, '\\s+', {WB}, 'g'),
                               '(.)', '\\1' || {S}, 'g') AS s
  FROM documents
)"""
    )
    for i in range(n_merges):
        ctes.append(
            f"d{i + 1} AS MATERIALIZED (SELECT doc_id,"
            f" replace(replace(s, {pat(i)}, {rep(i)}), {pat(i)}, {rep(i)})"
            f" AS s FROM d{i})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, CAST({_COUNT_DUCK} AS BIGINT)"
        f" AS n_tokens FROM d{n_merges}"
    )


def bpe_trained_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: per-doc token counts under the fixture merges via
    the expression chain (fully oracle-checked; the mapInPandas twin is
    pinned equal in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_count_expr(docs, FIXTURE_MERGES)


def _chain_duck() -> str:
    """The same delimit + rank-ordered replace chain in DuckDB SQL
    (replacement expressions concatenate the backreference with chr());
    same same-symbol-rule refusal as the Spark side."""
    _check_chain_merges(FIXTURE_MERGES)
    col = (
        "chr(31) || regexp_replace(regexp_replace(text, '\\s+', chr(30), 'g'),"
        " '(.)', '\\1' || chr(31), 'g')"
    )
    for _, left, right in sorted(FIXTURE_MERGES):
        pat = f"chr(31) || '{left}' || chr(31) || '{right}' || chr(31)"
        rep = f"chr(31) || '{left}{right}' || chr(31)"
        for _ in range(2):  # two passes per rule — see bpe_symbol_chain
            col = f"replace({col}, {pat}, {rep})"
    return col


_COUNT_DUCK = (
    "(length(s) - length(replace(s, chr(31), '')))"
    " - (length(s) - length(replace(s, chr(30), ''))) - 1"
)

BPE_TRAINED_SQL = f"""
WITH chained AS (
  SELECT doc_id, {_chain_duck()} AS s FROM documents
)
SELECT doc_id, CAST({_COUNT_DUCK} AS BIGINT) AS n_tokens
FROM chained
"""


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, total_words, total_tokens, fertility): tokens per
    whitespace word under the trained merges table, per language — the
    standard tokenizer-evaluation metric (a fertility of 1.0 means every
    word is one token; high-fertility languages pay more context window
    per word and flag an under-trained vocabulary for that language).

    Scale: the replace-chain token count and the whitespace word count
    evaluate in the SAME scan projection (one pass over text, zero
    Python), then a languages-sized hash aggregate — fertility over
    100 TB is one map stage plus a tiny shuffle. Counts are exact
    integers, so the ratio is bit-identical across engines."""
    from ..plans.scan import fan_out_scan
    from .text_ops import TOKENS

    docs = load_table(spark, sf_dir, "documents")
    sym = bpe_symbol_chain(F.col("text"), FIXTURE_MERGES).alias("s")
    # r12 (guide §2.5): replace chain + tokenize on every doc — fan the
    # narrow (lang, text) projection out of the single-split scan first
    docs = fan_out_scan(docs.select("lang", "text"))
    per_doc = docs.select("lang", sym, F.expr(f"size({TOKENS})").alias("w")).selectExpr(
        "lang",
        "w",
        f"CAST({_count_char('s', _SYM)} - {_count_char('s', _WB)} - 1"
        " AS BIGINT) AS t",
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("total_words"),
        F.sum("t").alias("total_tokens"),
        F.round(F.sum("t") / F.sum("w"), 4).alias("fertility"),
    )


def _fertility_duck() -> str:
    from .text_ops import TOKENS_DUCK

    return f"""
WITH chained AS (
  SELECT lang, len({TOKENS_DUCK}) AS w, {_chain_duck()} AS s FROM documents
), per_doc AS (
  SELECT lang, w, CAST({_COUNT_DUCK} AS BIGINT) AS t FROM chained
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(w) AS BIGINT) AS total_words,
       CAST(sum(t) AS BIGINT) AS total_tokens,
       round(sum(t) * 1.0 / sum(w), 4) AS fertility
FROM per_doc GROUP BY lang
"""


BPE_FERTILITY_SQL = _fertility_duck()


BPE_LEARNED_SQL = _learned_chain_duck()

QUERIES = {
    "bpe_trained_token_count": bpe_trained_token_count,
    "bpe_learn_merges": bpe_learn_merges,
    "bpe_learned_token_count": bpe_learned_token_count,
    "bpe_fertility_by_lang": bpe_fertility_by_lang,
}
ORACLE = {
    "bpe_trained_token_count": BPE_TRAINED_SQL,
    "bpe_learned_token_count": BPE_LEARNED_SQL,
    "bpe_fertility_by_lang": BPE_FERTILITY_SQL,
}
