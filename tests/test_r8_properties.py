"""Property tests for the round-8 operators: each checked against an
independent brute-force Python reference on randomized small inputs
(the SURVEY §5 strategy — the oracle gate checks one dataset; these
check the RULE)."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

WORDS = [f"w{i}" for i in range(12)]

doc_texts = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=6,
)


def _shingles(text: str, k: int = 3) -> set:
    toks = text.split()
    return {
        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
    }


class TestNoveltyProperty:
    @settings(max_examples=10)
    @given(doc_texts)
    def test_matches_bruteforce(self, spark, tmp_path_factory, texts):
        from jitsu_spark.operators.corpus_stats import ngram_novelty_curve

        tmp = tmp_path_factory.mktemp("nov")
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {
            r.doc_id: (r.n_distinct_grams, r.n_novel)
            for r in ngram_novelty_curve(spark, str(tmp)).collect()
        }
        seen: set = set()
        for i, t in enumerate(texts):
            sh = _shingles(t)
            if not sh:
                assert i not in got
                continue
            novel = sh - seen
            assert got[i] == (len(sh), len(novel))
            seen |= sh


class TestContainmentProperty:
    @settings(max_examples=10)
    @given(doc_texts)
    def test_matches_bruteforce(self, spark, tmp_path_factory, texts):
        from jitsu_spark.operators.dedup import (
            CONTAINMENT_THRESHOLD,
            containment_dup_pairs,
        )

        tmp = tmp_path_factory.mktemp("cont")
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {
            (r.doc_a, r.doc_b): (r.containment_a, r.containment_b)
            for r in containment_dup_pairs(spark, str(tmp)).collect()
        }
        sh = {i: _shingles(t) for i, t in enumerate(texts)}
        want = {}
        for a in range(len(texts)):
            for b in range(a + 1, len(texts)):
                inter = len(sh[a] & sh[b])
                if not inter:
                    continue
                ca, cb = inter / len(sh[a]), inter / len(sh[b])
                if max(ca, cb) >= CONTAINMENT_THRESHOLD:
                    want[(a, b)] = (round(ca, 4), round(cb, 4))
        assert got == want


class TestSessionStatsProperty:
    @settings(max_examples=10)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),  # user
                st.integers(min_value=0, max_value=200),  # minute offset
                st.sampled_from(["view", "click"]),
            ),
            min_size=1,
            max_size=20,
            unique_by=lambda t: (t[0], t[1]),
        )
    )
    def test_matches_python_simulator(self, spark, tmp_path_factory, specs):
        from jitsu_spark.operators.events_ops import SESSION_GAP_MIN
        from jitsu_spark.operators.reports import session_stats_report

        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(minutes=m), u, et, 0.0, "{}")
            for i, (u, m, et) in enumerate(specs)
        ]
        tmp = tmp_path_factory.mktemp("sess")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        got = {
            r.entry_event_type: (r.n_sessions, r.bounce_rate)
            for r in session_stats_report(spark, str(tmp)).collect()
        }
        # brute-force sessionizer: per user, sort by (ts, event_id),
        # strict > gap splits
        per_user: dict = {}
        for i, (u, m, et) in enumerate(specs):
            per_user.setdefault(u, []).append((m, i, et))
        sessions = []
        for u, evs in per_user.items():
            evs.sort()
            cur = None
            for m, i, et in evs:
                if cur is None or m - cur["last"] > SESSION_GAP_MIN:
                    if cur:
                        sessions.append(cur)
                    cur = {"entry": et, "n": 1, "last": m}
                else:
                    cur["n"] += 1
                    cur["last"] = m
            sessions.append(cur)
        want = {}
        for entry in {s["entry"] for s in sessions}:
            mine = [s for s in sessions if s["entry"] == entry]
            bounce = sum(1 for s in mine if s["n"] == 1) / len(mine)
            want[entry] = (len(mine), round(bounce, 4))
        assert got == want


class TestCumsumProperty:
    @settings(max_examples=10)
    @given(
        st.lists(
            st.integers(min_value=-50, max_value=50), min_size=1, max_size=60
        )
    )
    def test_cnt_better_matches_bruteforce(self, spark, values):
        import collections

        from jitsu_spark.plans.cumsum import histogram_cnt_better

        df = spark.createDataFrame([(v,) for v in values], "x long")
        cnt = collections.Counter(values)
        for ascending in (True, False):
            # DISTRIBUTED branch (the default) on every example...
            out = histogram_cnt_better(df, "x", ascending).collect()
            # ...cross-checked against the declared-small window form
            win = histogram_cnt_better(
                df, "x", ascending, small_value_space=True
            ).collect()
            assert sorted(map(tuple, win)) == sorted(map(tuple, out))
            assert len(out) == len(cnt)
            for r in out:
                want = sum(
                    c
                    for w, c in cnt.items()
                    if (w < r["v"] if ascending else w > r["v"])
                )
                assert r["cnt_better"] == want
                assert r["n_total"] == len(values)


class TestHistogramCarry:
    def test_carry_rides_the_rank_for_unique_keys(self, spark):
        """carry columns must reproduce exactly what the join-back form
        produced for unique keys, in BOTH branches."""
        from jitsu_spark.plans.cumsum import histogram_cnt_better

        rows = [(i, f"k{i:03d}", i * 10) for i in range(37)]
        df = spark.createDataFrame(rows, "doc_id long, key string, pay long")
        for small in (False, True):
            out = histogram_cnt_better(
                df, "key", small_value_space=small, carry=("doc_id", "pay")
            ).collect()
            assert len(out) == 37
            for r in out:
                # key k{i} ranks i-th; payload is the row's own columns
                i = int(r["v"][1:])
                assert r["doc_id"] == i and r["pay"] == i * 10
                assert r["cnt_better"] == i
                assert r["n_total"] == 37

    def test_rank_unique_on_duplicate_keys_raises(self, spark):
        """rank_unique declares its key jointly unique; a duplicate must
        fail loud instead of ranking both rows silently — also when the
        two rows arrive in different Arrow batches. Unique keys still
        rank exactly."""
        import pytest

        from jitsu_spark.plans.cumsum import rank_unique

        batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        keys = ["key", "doc_id"]
        dup_msg = r"unique keys; duplicate value: \(0\.5, 1\)"
        dups = spark.createDataFrame(
            [(0.5, 1), (0.5, 1), (0.7, 2)], "key double, doc_id long"
        )
        # tied key, distinct tie-breaker: legal, ranked by doc_id
        ties = spark.createDataFrame(
            [(float(i // 2), i) for i in range(40)], "key double, doc_id long"
        )
        for per_batch in ("1", "3", "10000"):
            spark.conf.set(batch_conf, per_batch)
            try:
                with pytest.raises(Exception, match=dup_msg):
                    rank_unique(dups, keys, partitions=2).collect()
                out = rank_unique(ties, keys, partitions=3).collect()
            finally:
                spark.conf.unset(batch_conf)
            assert sorted((r["doc_id"], r["cnt_better"]) for r in out) == [
                (i, i) for i in range(40)
            ]
            assert {r["n_total"] for r in out} == {40}

    def test_carry_on_duplicate_keys_raises(self, spark):
        """r13 (ADVICE r12 #2): carry= declares key uniqueness; a
        colliding key would silently drop rows (one output per DISTINCT
        value), so both branches must fail loud instead."""
        import pytest

        from jitsu_spark.plans.cumsum import histogram_cnt_better

        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "doc_id long, key string"
        )
        for small in (False, True):
            with pytest.raises(Exception, match="unique keys"):
                histogram_cnt_better(
                    df, "key", small_value_space=small, carry=("doc_id",)
                ).collect()
        # without carry, duplicate keys remain perfectly legal
        out = {
            r["v"]: r
            for r in histogram_cnt_better(df, "key").collect()
        }
        assert out["a"]["cnt"] == 2 and out["b"]["cnt_better"] == 2
