"""Freshness contracts of the r12 construction memos.

`plan_fingerprint` keys the query-vocab and PQ-artifact memos; a memo hit
may only serve the SAME logical computation over the SAME bytes, so a
rewritten input file (same path) or different literal rows must miss.
"""

import os

import pytest
from pyspark.sql import functions as F  # noqa: F401

from jitsu_spark.plans.store_memo import plan_fingerprint
from jitsu_spark.operators.text_ops import _query_vocab, _VOCAB_MEMO


def test_fingerprint_distinguishes_local_rows(spark):
    a = spark.createDataFrame([(1, "x y")], "query_id int, text string")
    b = spark.createDataFrame([(1, "x z")], "query_id int, text string")
    fa, fb = plan_fingerprint(a), plan_fingerprint(b)
    assert fa is not None and fb is not None
    assert fa != fb
    # NOTE: a fresh createDataFrame of the SAME rows hashes differently
    # (LocalRelation fingerprints are instance-specific) — that is why
    # _default_queries_df memoizes the frame itself; the same DataFrame
    # object must fingerprint stably:
    assert plan_fingerprint(a) == fa


def test_default_queries_df_is_session_stable(spark):
    from jitsu_spark.operators.text_ops import _default_queries_df

    d1 = _default_queries_df(spark)
    d2 = _default_queries_df(spark)
    assert plan_fingerprint(d1) == plan_fingerprint(d2)


def test_fingerprint_tracks_file_rewrites(spark, tmp_path):
    p = str(tmp_path / "q.parquet")
    spark.createDataFrame(
        [(1, "alpha beta")], "query_id int, text string"
    ).write.mode("overwrite").parquet(p)
    f1 = plan_fingerprint(spark.read.parquet(p))
    # independent reads of the same unchanged path hash identically —
    # file-backed plans, unlike local relations, fingerprint stably
    assert plan_fingerprint(spark.read.parquet(p)) == f1
    spark.createDataFrame(
        [(1, "gamma delta")], "query_id int, text string"
    ).write.mode("overwrite").parquet(p)
    f2 = plan_fingerprint(spark.read.parquet(p))
    assert f1 is not None and f2 is not None
    assert f1 != f2


def test_query_vocab_never_stale_after_rewrite(spark, tmp_path):
    p = str(tmp_path / "q2.parquet")
    spark.createDataFrame(
        [(1, "alpha beta")], "query_id int, text string"
    ).write.mode("overwrite").parquet(p)
    v1 = _query_vocab(spark.read.parquet(p))
    assert v1 == ["alpha", "beta"]
    # warm hit serves the memo
    assert _query_vocab(spark.read.parquet(p)) == v1
    os.utime(p)  # even a metadata-only touch must invalidate
    spark.createDataFrame(
        [(1, "gamma beta")], "query_id int, text string"
    ).write.mode("overwrite").parquet(p)
    assert _query_vocab(spark.read.parquet(p)) == ["beta", "gamma"]


def test_query_vocab_escapes_hostile_terms(spark):
    _VOCAB_MEMO.clear()
    q = spark.createDataFrame(
        [(1, "it's a\\path")], "query_id int, text string"
    )
    vocab = _query_vocab(q)
    assert vocab == ["a\\\\path", "it\\'s"]


def test_wc_memo_never_stale_after_rewrite(spark, tmp_path):
    """The BPE trainer's word-count memo (r12): a warm call serves the
    memoized tuple; rewriting the input parquet at the same path must
    retrain from the new bytes."""
    from jitsu_spark.operators.bpe import _WC_MEMO, _learn_merges_list

    _WC_MEMO.clear()
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "ab ab ab ab")], "doc_id int, text string"
    ).write.mode("overwrite").parquet(p)
    m1 = _learn_merges_list(spark.read.parquet(p), n_merges=1)
    assert m1 == [(0, "a", "b")]
    assert len(_WC_MEMO) == 1
    # warm hit: same path, same bytes -> memo serves, no new entry
    assert _learn_merges_list(spark.read.parquet(p), n_merges=1) == m1
    assert len(_WC_MEMO) == 1
    spark.createDataFrame(
        [(1, "cd cd cd cd")], "doc_id int, text string"
    ).write.mode("overwrite").parquet(p)
    assert _learn_merges_list(spark.read.parquet(p), n_merges=1) == [
        (0, "c", "d")
    ]


def test_wc_memo_key_varies_with_caps_and_mode(spark, tmp_path):
    """max_words / pre_tokenizer are plan literals, so each combination
    gets its own memo entry — a cap change is never served stale."""
    from jitsu_spark.operators.bpe import _WC_MEMO, _learn_merges_list

    _WC_MEMO.clear()
    p = str(tmp_path / "docs2.parquet")
    spark.createDataFrame(
        [(1, "ab ab cd")], "doc_id int, text string"
    ).write.mode("overwrite").parquet(p)
    _learn_merges_list(spark.read.parquet(p), n_merges=1, max_words=10)
    _learn_merges_list(spark.read.parquet(p), n_merges=1, max_words=1)
    _learn_merges_list(
        spark.read.parquet(p), n_merges=1, pre_tokenizer="gpt2"
    )
    assert len(_WC_MEMO) == 3


def test_pq_probe_memo_freshness(spark, tmp_path):
    """The PQ probe-routing memo (r12) rides the same _art_memo keying:
    a rewritten store or query input changes the fingerprint, so the
    memo never routes against stale centroids."""
    from jitsu_spark.operators.pq import _PQ_ART_MEMO, _art_memo

    _PQ_ART_MEMO.clear()
    p = str(tmp_path / "cent.parquet")
    spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id int, c_emb array<double>"
    ).write.mode("overwrite").parquet(p)
    calls = []
    df1 = spark.read.parquet(p)
    v1 = _art_memo("probe", df1, lambda: calls.append(1) or "first")
    assert v1 == "first" and calls == [1]
    # same bytes -> memo hit, build not called again
    assert (
        _art_memo("probe", spark.read.parquet(p), lambda: "second")
        == "first"
    )
    spark.createDataFrame(
        [(0, [0.0, 1.0])], "centroid_id int, c_emb array<double>"
    ).write.mode("overwrite").parquet(p)
    assert (
        _art_memo("probe", spark.read.parquet(p), lambda: "third")
        == "third"
    )


def test_fan_out_partition_probe_memo_tracks_rewrites(spark, tmp_path):
    """The fan_out_scan partition probe memoizes on the plan fingerprint;
    a rewrite at the same path must re-probe (a single-row-group file
    replaced by a many-file table must fan out differently)."""
    from jitsu_spark.plans.scan import _NPART_MEMO, _num_partitions, fan_out_scan

    p = str(tmp_path / "probe.parquet")
    spark.range(0, 100, 1, 1).write.mode("overwrite").parquet(p)
    df1 = spark.read.parquet(p)
    n1 = _num_partitions(df1)
    assert n1 == 1
    # memo hit on an identical re-read (no stale-path probe)
    assert _num_partitions(spark.read.parquet(p)) == 1
    # fan_out_scan repartitions the single-split read to parallelism
    target = spark.sparkContext.defaultParallelism
    assert fan_out_scan(df1).rdd.getNumPartitions() == target
    # rewrite at the SAME path with many files -> memo must miss
    spark.range(0, 100, 1, 8).write.mode("overwrite").parquet(p)
    # split count depends on file-packing confs; the contract under test
    # is the memo MISS — a stale hit would still read 1
    n2 = _num_partitions(spark.read.parquet(p))
    assert n2 is not None and n2 > 1
    assert len(_NPART_MEMO) >= 1


def test_npart_memo_keys_on_session_confs(spark, tmp_path):
    """r13 (ADVICE r12 #1): the partition-count memo key covers the scan
    confs, so a mid-process conf change re-probes instead of serving the
    stale count."""
    from jitsu_spark.plans.scan import _conf_token, _num_partitions

    p = str(tmp_path / "conf_probe.parquet")
    spark.range(0, 200_000).write.mode("overwrite").parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
        t1 = _conf_token(spark.read.parquet(p))
        n1 = _num_partitions(spark.read.parquet(p))
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        t2 = _conf_token(spark.read.parquet(p))
        assert t1 != t2  # different key -> different memo slot
        n2 = _num_partitions(spark.read.parquet(p))
        assert n1 is not None and n2 is not None
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
