"""Corpus n-gram stats + incremental fingerprint dedup (round 4)."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestBoilerplateStats:
    def test_ratios_bounded_and_consistent(self, spark, sf_dir):
        from jitsu_spark.operators.corpus_stats import (
            boilerplate_shingle_stats,
        )

        rows = boilerplate_shingle_stats(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 < r.n_shingles
            assert 0 <= r.n_boilerplate <= r.n_shingles
            # Spark rounds half-up, Python half-even: allow one ulp at
            # the 4th decimal
            assert abs(r.boilerplate_ratio - r.n_boilerplate / r.n_shingles) < 1e-4

    def test_topk_is_deterministic_and_ordered(self, spark, sf_dir):
        from jitsu_spark.operators.corpus_stats import TOPK_NGRAMS, ngram_topk

        a = ngram_topk(spark, sf_dir).collect()
        b = ngram_topk(spark, sf_dir).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        assert len(a) <= TOPK_NGRAMS
        dfs = [r.df for r in a]
        assert dfs == sorted(dfs, reverse=True)
        assert [r.rank for r in a] == list(range(1, len(a) + 1))

    def test_topk_plan_uses_take_ordered_not_global_sort(self, spark, sf_dir):
        from jitsu_spark.operators.corpus_stats import ngram_topk

        plan = ngram_topk(spark, sf_dir)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # the heavy cut is the limit (TakeOrderedAndProject); the rank
        # window exists but runs over <= K rows after it
        assert "TakeOrderedAndProject" in plan, plan


class TestIncrementalDedup:
    def test_new_batch_verdicts_and_store_growth(self, spark, sf_dir, tmp_path):
        from jitsu_spark.operators.dedup import (
            build_fingerprint_store,
            dedup_incremental,
        )
        from jitsu_spark.tables import load_table

        store = str(tmp_path / "fp")
        build_fingerprint_store(spark, sf_dir, store)
        n0 = spark.read.parquet(store).count()

        corpus = load_table(spark, sf_dir, "documents")
        dup_text = corpus.select("text").first()[0]
        batch = spark.createDataFrame(
            [
                (10_000_001, dup_text),            # exact dup of corpus
                (10_000_002, "completely fresh doc one two three"),
                (10_000_003, "completely fresh doc one two three"),  # in-batch dup
                (10_000_004, "another brand new document"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.verdict, r.canonical_id)
            for r in dedup_incremental(spark, batch, store).collect()
        }
        assert got[10_000_001][0] == "dup_of_corpus"
        assert got[10_000_001][1] < 10_000_000  # canonical is the corpus doc
        assert got[10_000_002] == ("new", 10_000_002)
        assert got[10_000_003] == ("dup_in_batch", 10_000_002)
        assert got[10_000_004] == ("new", 10_000_004)
        # only the two genuinely-new fingerprints were appended
        assert spark.read.parquet(store).count() == n0 + 2

    def test_second_batch_sees_first_batch_fingerprints(
        self, spark, sf_dir, tmp_path
    ):
        from jitsu_spark.operators.dedup import (
            build_fingerprint_store,
            dedup_incremental,
        )

        store = str(tmp_path / "fp2")
        build_fingerprint_store(spark, sf_dir, store)
        b1 = spark.createDataFrame(
            [(20_000_001, "cross batch duplicate text")],
            "doc_id long, text string",
        )
        b2 = spark.createDataFrame(
            [(20_000_002, "cross batch duplicate text")],
            "doc_id long, text string",
        )
        assert (
            dedup_incremental(spark, b1, store).first().verdict == "new"
        )
        r2 = dedup_incremental(spark, b2, store).first()
        assert r2.verdict == "dup_of_corpus"
        assert r2.canonical_id == 20_000_001

    def test_store_is_never_shuffled(self, spark, sf_dir, tmp_path):
        """Join direction at scale: the corpus-sized store streams
        through a broadcast join whose build side is the BATCH — the
        store scan must not sit under a shuffle exchange."""
        from jitsu_spark.operators.dedup import build_fingerprint_store

        store_dir = str(tmp_path / "fp3")
        build_fingerprint_store(spark, sf_dir, store_dir)
        store = spark.read.parquet(store_dir).select("text_hash", "canonical_id")
        batch = spark.createDataFrame(
            [(1, "x")], "doc_id long, text string"
        ).select("doc_id", F.md5("text").alias("text_hash"))
        hits = store.join(
            batch.select("text_hash").distinct(), "text_hash"
        )
        plan = hits._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


class TestDuplicateSpans:
    def test_spans_are_disjoint_and_bounded(self, spark, sf_dir):
        from jitsu_spark.operators.corpus_stats import duplicate_span_report

        rows = duplicate_span_report(spark, sf_dir).collect()
        assert rows  # synthetic corpus shares plenty of 3-grams
        for r in rows:
            assert 1 <= r.n_dup_spans
            assert 0 < r.dup_tokens <= r.n_tokens  # disjoint islands
            assert 0 < r.dup_ratio <= 1.0

    def test_exact_dup_docs_fully_covered(self, spark, sf_dir, tmp_path):
        """Two identical docs must report ~full coverage of each other."""
        import os

        import pandas as pd

        out = str(tmp_path / "docs")
        os.makedirs(out, exist_ok=True)
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta epsilon zeta",
                    "alpha beta gamma delta epsilon zeta",
                    "one lonely document with no twin here",
                ],
            }
        ).to_parquet(os.path.join(out, "documents.parquet"))
        from jitsu_spark.operators.corpus_stats import duplicate_span_report

        got = {
            r.doc_id: (r.dup_tokens, r.n_tokens)
            for r in duplicate_span_report(spark, out).collect()
        }
        assert set(got) == {1, 2}  # doc 3 shares nothing
        assert got[1] == (6, 6) and got[2] == (6, 6)  # full-span coverage


class TestUnigramSurprisal:
    def test_positive_and_rare_above_common(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from jitsu_spark.operators.corpus_stats import unigram_surprisal

        df = unigram_surprisal(spark, sf_dir)
        assert df.where(F.col("avg_surprisal") <= 0).count() == 0
        # sanity: scores vary across the corpus (not a constant column)
        stats = df.agg(
            F.min("avg_surprisal").alias("lo"), F.max("avg_surprisal").alias("hi")
        ).first()
        assert stats.hi > stats.lo


class TestDurableStreamingGate:
    """run_corpus_gate_durable: cross-batch, cross-restart dedup through
    the shared fingerprint store — replay-idempotent by construction
    (corpus MERGE before store append)."""

    GOOD = (
        "the data pipeline processes a table of events and the result "
        "lands in a warehouse with a schema to query and the numbers "
        "stay the same for every run of the job and the report is ready"
    )  # 37 words, stopword-rich, all-alpha: passes the Gopher gate

    def _batch(self, spark, rows):
        import datetime as dt

        return spark.createDataFrame(
            [
                (i, t, "web", dt.datetime(2024, 5, 1, 12, 0, s))
                for s, (i, t) in enumerate(rows)
            ],
            "doc_id long, text string, source string, ingested_at timestamp",
        )

    def test_two_batches_dedup_across_and_replay_idempotent(
        self, spark, tmp_path
    ):
        from jitsu_spark.sinks import WarehouseSink
        from jitsu_spark.streaming.corpus_gate import (
            gate_expr,
            process_gated_batch_durable,
        )

        sink = WarehouseSink(spark, str(tmp_path / "wh"))
        store = str(tmp_path / "fp")

        b1 = self._batch(
            spark, [(1, self.GOOD), (2, self.GOOD + " twice")]
        ).where(gate_expr())
        b2 = self._batch(
            spark,
            [(3, self.GOOD), (4, self.GOOD + " thrice")],  # 3 dups 1
        ).where(gate_expr())

        process_gated_batch_durable(b1, store, sink)
        process_gated_batch_durable(b2, store, sink)
        docs = {r.doc_id for r in sink.read("corpus").collect()}
        assert docs == {1, 2, 4}  # doc 3's content already ingested

        # replay of batch 2 (at-least-once): corpus unchanged
        process_gated_batch_durable(b2, store, sink)
        assert {r.doc_id for r in sink.read("corpus").collect()} == {1, 2, 4}

    def test_quality_gate_applies_before_store(self, spark, tmp_path):
        from jitsu_spark.sinks import WarehouseSink
        from jitsu_spark.streaming.corpus_gate import (
            gate_expr,
            process_gated_batch_durable,
        )

        sink = WarehouseSink(spark, str(tmp_path / "wh2"))
        store = str(tmp_path / "fp2")
        b = self._batch(
            spark, [(1, self.GOOD), (2, "tooshort")]
        ).where(gate_expr())
        process_gated_batch_durable(b, store, sink)
        assert {r.doc_id for r in sink.read("corpus").collect()} == {1}

    def test_streaming_end_to_end(self, spark, tmp_path):
        import json as _json
        import os

        from jitsu_spark.sinks import WarehouseSink
        from jitsu_spark.streaming.corpus_gate import (
            document_stream,
            run_corpus_gate_durable,
        )

        src = str(tmp_path / "in")
        os.makedirs(src)
        with open(os.path.join(src, "shard0.jsonl"), "w") as f:
            for i, text in ((1, self.GOOD), (2, self.GOOD)):  # 2 dups 1
                f.write(
                    _json.dumps(
                        {
                            "doc_id": i,
                            "text": text,
                            "source": "web",
                            "ingested_at": "2024-05-01T12:00:00",
                        }
                    )
                    + "\n"
                )
        sink = WarehouseSink(spark, str(tmp_path / "wh3"))
        q = run_corpus_gate_durable(
            document_stream(spark, src),
            sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
            fingerprint_store_dir=str(tmp_path / "fp3"),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        assert {r.doc_id for r in sink.read("corpus").collect()} == {1}


def test_duplicate_spans_match_python_reference(spark, tmp_path):
    """Crosscheck the distributed gaps-and-islands span merge against a
    direct Python reference on a seeded random corpus with a tiny
    vocabulary (forcing plenty of shared 3-grams)."""
    import os
    import random

    import pandas as pd

    from jitsu_spark.operators.corpus_stats import (
        SPAN_K,
        duplicate_span_report,
    )

    rng = random.Random(42)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    docs = {
        i: [rng.choice(vocab) for _ in range(rng.randint(3, 25))]
        for i in range(30)
    }
    out = str(tmp_path / "rand_docs")
    os.makedirs(out)
    pd.DataFrame(
        {"doc_id": list(docs), "text": [" ".join(t) for t in docs.values()]}
    ).to_parquet(os.path.join(out, "documents.parquet"))

    # reference: shared grams -> positions -> merged spans
    grams = {
        d: [tuple(t[i : i + 3]) for i in range(len(t) - 2)]
        for d, t in docs.items()
    }
    owners = {}
    for d, gs in grams.items():
        for g in set(gs):
            owners.setdefault(g, set()).add(d)
    shared = {g for g, ds in owners.items() if len(ds) >= 2}
    expect = {}
    for d, gs in grams.items():
        pos = sorted(i for i, g in enumerate(gs) if g in shared)
        if not pos:
            continue
        spans = []
        start = prev = pos[0]
        for p in pos[1:]:
            if p - prev > SPAN_K:
                spans.append((start, prev))
                start = p
            prev = p
        spans.append((start, prev))
        dup_tokens = sum(e - s + SPAN_K for s, e in spans)
        expect[d] = (len(docs[d]), len(spans), dup_tokens)

    got = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens)
        for r in duplicate_span_report(spark, out).collect()
    }
    assert got == expect


class TestDuplicateSpanDedup:
    def test_canonical_keeps_others_lose_covered_tokens(self, spark, tmp_path):
        rows = [
            # docs 1 and 2 share the 3-gram "x y z"; doc 1 (min id) is
            # canonical and keeps it, doc 2 loses exactly those 3 tokens
            (1, "x y z alpha beta gamma"),
            (2, "p q x y z r s"),
            # doc 3 shares nothing -> untouched
            (3, "u v w u2 v2 w2"),
            # doc 4 is an exact copy of doc 3's text -> doc 3 becomes
            # canonical for every gram, doc 4 empties completely
            (4, "u v w u2 v2 w2"),
        ]
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/documents.parquet")
        from jitsu_spark.operators.corpus_stats import duplicate_span_dedup

        out = {
            r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
            for r in duplicate_span_dedup(spark, str(tmp_path)).collect()
        }
        assert out[1] == (6, 0, "x y z alpha beta gamma")
        assert out[2] == (7, 3, "p q r s")
        assert out[3] == (6, 0, "u v w u2 v2 w2")
        assert out[4] == (6, 6, "")

    def test_overlapping_grams_remove_union(self, spark, tmp_path):
        rows = [
            (1, "a b c d"),           # canonical for both grams
            (2, "z a b c d z2"),      # grams "a b c" and "b c d" overlap:
        ]                              # union removes 4 tokens, not 6
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/documents.parquet")
        from jitsu_spark.operators.corpus_stats import duplicate_span_dedup

        out = {
            r.doc_id: (r.n_removed, r.cleaned_text)
            for r in duplicate_span_dedup(spark, str(tmp_path)).collect()
        }
        assert out[1] == (0, "a b c d")
        assert out[2] == (4, "z z2")

    def test_output_covers_whole_corpus(self, spark, sf_dir):
        from jitsu_spark.operators.corpus_stats import duplicate_span_dedup
        from jitsu_spark.tables import load_table

        out = duplicate_span_dedup(spark, sf_dir)
        assert out.count() == load_table(spark, sf_dir, "documents").count()

    def test_production_width_k50(self, spark, tmp_path):
        """k is a per-call parameter (r5 review): at the Lee et al.
        width of 50 only >= 50-token shared substrings are excised."""
        shared50 = " ".join(f"s{i}" for i in range(50))
        shared10 = " ".join(f"t{i}" for i in range(10))
        rows = [
            # doc 1 canonical for both shared blocks
            (1, f"{shared50} mid {shared10}"),
            # doc 2 repeats both: at k=50 only the 50-token block goes
            (2, f"head {shared50} tail {shared10}"),
            # doc 3 repeats only the 10-token block -> untouched at k=50
            (3, f"solo {shared10} end"),
        ]
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/documents.parquet")
        from jitsu_spark.operators.corpus_stats import remove_duplicate_spans

        out = {
            r.doc_id: (r.n_removed, r.cleaned_text)
            for r in remove_duplicate_spans(spark, str(tmp_path), k=50).collect()
        }
        assert out[1] == (0, f"{shared50} mid {shared10}")
        assert out[2] == (50, f"head tail {shared10}")
        assert out[3] == (0, f"solo {shared10} end")

    def test_intervals_replace_position_explode(self, spark, tmp_path):
        """Plan shape (r5 review): removal candidates are merged
        (start, end) intervals — no `sequence(pos, ...)` explode, so
        candidate rows don't amplify k-fold at k=50."""
        rows = [(1, "a b c d"), (2, "z a b c d z2")]
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/documents.parquet")
        from jitsu_spark.operators.corpus_stats import remove_duplicate_spans

        out = remove_duplicate_spans(spark, str(tmp_path), k=50)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "sequence(pos" not in plan

    def test_merged_intervals_equal_position_union(self, spark, tmp_path):
        """Adjacent/overlapping hit positions merge into one interval
        covering exactly the union of their k-token ranges — including
        the touching case (gap == k)."""
        # doc 2 repeats "a b c" at pos 1 and again at pos 7 (gap 6 > 3:
        # two islands) and "c d e" overlapping at pos 3 (gap 2: merges)
        rows = [
            (1, "a b c d e"),
            (2, "z a b c d e x y a b c w"),
        ]
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/documents.parquet")
        from jitsu_spark.operators.corpus_stats import remove_duplicate_spans

        out = {
            r.doc_id: (r.n_removed, r.cleaned_text)
            for r in remove_duplicate_spans(spark, str(tmp_path), k=3).collect()
        }
        # doc 2: grams "a b c"(1),"b c d"(2),"c d e"(3) merge -> [1,5];
        # second "a b c"(8) -> [8,10]; union removes 8 tokens
        assert out[2] == (8, "z x y w")
        assert out[1] == (0, "a b c d e")


class TestBigramLmNll:
    def test_matches_python_reference(self, spark, sf_dir):
        """Pure-python add-k bigram LM over the collected token arrays
        reproduces avg_nll to the rounded 4 decimals."""
        import math

        from jitsu_spark.operators.corpus_stats import (
            LM_ADD_K,
            bigram_lm_nll,
            load_table_docs,
        )
        from jitsu_spark.operators.quality_model import TRAIN_BUCKET_LT
        from tests.test_corpus_increment import _bucket_py

        toks = {
            r["doc_id"]: list(r["toks"])
            for r in load_table_docs(spark, sf_dir).collect()
        }
        bigrams = {
            d: list(zip(t, t[1:])) for d, t in toks.items() if len(t) >= 2
        }
        c2, c1, vocab = {}, {}, set()
        for d, bgs in bigrams.items():
            if _bucket_py(d) >= TRAIN_BUCKET_LT:
                continue
            for w1, w2 in bgs:
                c2[(w1, w2)] = c2.get((w1, w2), 0) + 1
                c1[w1] = c1.get(w1, 0) + 1
                vocab.add(w2)
        v = float(len(vocab))
        k = LM_ADD_K
        want = {}
        for d, bgs in bigrams.items():
            nll = [
                -math.log(
                    (c2.get(bg, 0) + k) / (c1.get(bg[0], 0) + k * v)
                )
                for bg in bgs
            ]
            want[d] = (len(bgs), round(sum(nll) / len(nll), 4))
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
            for r in bigram_lm_nll(spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0

    def test_positive_and_oov_floor(self, spark, sf_dir):
        """NLL is positive (probabilities < 1 under smoothing) and
        bounded by the uniform-floor worst case -ln(k / (k*V)) = ln(V)
        ... plus the seen-context correction, so simply: finite."""
        from pyspark.sql import functions as F

        from jitsu_spark.operators.corpus_stats import bigram_lm_nll

        stats = bigram_lm_nll(spark, sf_dir).agg(
            F.min("avg_nll"), F.max("avg_nll"), F.count("*")
        ).first()
        assert stats[0] > 0 and math_isfinite(stats[1]) and stats[2] > 0


def math_isfinite(x) -> bool:
    import math

    return x is not None and math.isfinite(x)


class TestKneserNeyBigramNll:
    def test_matches_python_reference(self, spark, sf_dir):
        """Pure-python interpolated-KN over the collected token arrays
        reproduces avg_nll to the rounded 4 decimals."""
        import math

        from jitsu_spark.operators.corpus_stats import (
            KN_DISCOUNT,
            LM_ADD_K,
            kneser_ney_bigram_nll,
            load_table_docs,
        )
        from jitsu_spark.operators.quality_model import TRAIN_BUCKET_LT
        from tests.test_corpus_increment import _bucket_py

        toks = {
            r["doc_id"]: list(r["toks"])
            for r in load_table_docs(spark, sf_dir).collect()
        }
        bigrams = {
            d: list(zip(t, t[1:])) for d, t in toks.items() if len(t) >= 2
        }
        c12, c1, n1p_fwd, n1p_bwd = {}, {}, {}, {}
        for d, bgs in bigrams.items():
            if _bucket_py(d) >= TRAIN_BUCKET_LT:
                continue
            for w1, w2 in bgs:
                c12[(w1, w2)] = c12.get((w1, w2), 0) + 1
                c1[w1] = c1.get(w1, 0) + 1
        for w1, w2 in c12:
            n1p_fwd[w1] = n1p_fwd.get(w1, 0) + 1
            n1p_bwd[w2] = n1p_bwd.get(w2, 0) + 1
        t = float(len(c12))
        v = float(len({w2 for _, w2 in c12}))
        d_, k = KN_DISCOUNT, LM_ADD_K

        def pc(w2):
            return (n1p_bwd.get(w2, 0) + k) / (t + k * (v + 1))

        def p(w1, w2):
            if w1 in c1:
                return (
                    max(c12.get((w1, w2), 0) - d_, 0.0)
                    + d_ * n1p_fwd[w1] * pc(w2)
                ) / c1[w1]
            return pc(w2)

        want = {}
        for d, bgs in bigrams.items():
            nll = [-math.log(p(w1, w2)) for w1, w2 in bgs]
            want[d] = (len(bgs), round(sum(nll) / len(nll), 4))
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
            for r in kneser_ney_bigram_nll(spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0


class TestSourceDistributionDiagnostics:
    def test_kl_zero_for_identical_distribution(self, spark, tmp_path):
        """Two sources with the same unigram distribution both sit at
        KL 0 from the mixture; a skewed third source is > 0."""
        import pyspark.sql.functions as F

        rows = [
            (1, "a b c d", "s1"),
            (2, "a b c d", "s2"),
            (3, "a a a a", "s3"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        d = str(tmp_path / "kl")
        df.withColumn("lang", F.lit("en")).withColumn(
            "n_chars", F.length("text")
        ).write.parquet(d + "/documents.parquet")
        from jitsu_spark.operators.corpus_stats import source_unigram_kl

        got = {
            r["source"]: r["kl_vs_corpus"]
            for r in source_unigram_kl(spark, d).collect()
        }
        # mixture is not equal to s1/s2 (s3 skews it), so s1==s2 > 0
        assert got["s1"] == got["s2"]
        assert got["s3"] > got["s1"] >= 0

    def test_distinct_n_bounds_and_repetition(self, spark, tmp_path):
        import pyspark.sql.functions as F

        rows = [
            (1, "a b c d e", "unique"),
            (2, "x x x x x", "repeat"),
            (3, "y", "single"),  # no bigrams -> distinct_2 NULL
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        d = str(tmp_path / "dn")
        df.withColumn("lang", F.lit("en")).withColumn(
            "n_chars", F.length("text")
        ).write.parquet(d + "/documents.parquet")
        from jitsu_spark.operators.corpus_stats import (
            distinct_ngram_diversity,
        )

        got = {
            r["source"]: r
            for r in distinct_ngram_diversity(spark, d).collect()
        }
        assert got["unique"]["distinct_1"] == 1.0
        assert got["unique"]["distinct_2"] == 1.0
        assert got["repeat"]["distinct_1"] == 0.2  # 1 type / 5 tokens
        assert got["repeat"]["distinct_2"] == 0.25  # 1 type / 4 bigrams
        assert got["single"]["n_bigrams"] == 0
        assert got["single"]["distinct_2"] is None


class TestWorkloadQueries:
    def test_thousand_distinct_queries_from_tiny_vocab(self, spark, sf_dir):
        """The bench workload builder must produce n DISTINCT query
        texts even against the synthetic corpus's ~31-token vocabulary
        (base-v digit construction; the first two forms repeated with
        period v and overflowed at v^2 respectively)."""
        from jitsu_spark.operators.text_ops import workload_queries_df
        from jitsu_spark.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        q = workload_queries_df(docs, n_queries=1000)
        texts = [r["text"] for r in q.collect()]
        assert len(texts) == 1000
        assert len(set(texts)) == 1000
        # deterministic across calls
        again = [r["text"] for r in workload_queries_df(docs, 1000).collect()]
        assert texts == again


class TestSpanGramFingerprints:
    def test_xxhash64_gram_fingerprints_are_collision_free(self, spark, sf_dir):
        """The r12 span operators shuffle xxhash64(gram) instead of the
        gram string; output equals the string form iff no two distinct
        grams share a fingerprint on this (deterministic) dataset. Pin
        that, so a fixture change that introduced a collision would fail
        loudly here instead of silently flipping a span verdict."""
        from jitsu_spark.operators.corpus_stats import (
            _SHINGLES_T,
            load_table_docs,
        )

        grams = load_table_docs(spark, sf_dir).selectExpr(
            "doc_id", f"posexplode({_SHINGLES_T}) AS (pos, gram)"
        )
        row = grams.select(
            F.countDistinct("gram").alias("n_grams"),
            F.countDistinct(F.xxhash64("gram")).alias("n_hashes"),
        ).collect()[0]
        assert row.n_grams == row.n_hashes

    def test_xxhash64_shingle_fingerprints_are_collision_free(
        self, spark, sf_dir
    ):
        """Same pin for the boilerplate shingle unit (dedup's
        _shingle_rows), which r12 also fingerprints before shuffling."""
        from jitsu_spark.operators.dedup import _shingle_rows

        sh = _shingle_rows(spark, sf_dir)
        row = sh.select(
            F.countDistinct("shingle").alias("n"),
            F.countDistinct(F.xxhash64("shingle")).alias("h"),
        ).collect()[0]
        assert row.n == row.h
