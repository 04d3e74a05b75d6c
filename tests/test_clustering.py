"""Embedding-cluster curation: assignment coverage, prune arithmetic,
served (k-means||) path, and temperature resampling properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


class TestClusterAssign:
    def test_every_vector_assigned_exactly_once(self, spark):
        from jitsu_spark.operators.clustering import embedding_cluster_assign
        from jitsu_spark.tables import load_table

        out = embedding_cluster_assign(spark, SF_DIR)
        n_emb = load_table(spark, SF_DIR, "embeddings").count()
        assert out.count() == n_emb
        assert out.select("vec_id").distinct().count() == n_emb

    def test_cluster_ids_are_the_fixed_seed_set(self, spark):
        from jitsu_spark.operators.clustering import (
            K_CLUSTERS,
            embedding_cluster_assign,
        )

        ids = {
            r.cluster_id
            for r in embedding_cluster_assign(spark, SF_DIR)
            .select("cluster_id")
            .distinct()
            .collect()
        }
        assert ids <= set(range(K_CLUSTERS))

    def test_seed_vectors_assign_to_themselves(self, spark):
        from jitsu_spark.operators.clustering import (
            K_CLUSTERS,
            embedding_cluster_assign,
        )

        seeds = (
            embedding_cluster_assign(spark, SF_DIR)
            .where(F.col("vec_id") < K_CLUSTERS)
            .collect()
        )
        for r in seeds:
            assert r.cluster_id == r.vec_id, r
            assert r.sim == pytest.approx(1.0, abs=1e-3)


class TestPrototypePrune:
    def test_prune_drops_exactly_the_top_quarter(self, spark):
        from jitsu_spark.operators.clustering import (
            PRUNE_TOP_PER_MILLE,
            cluster_prototype_prune,
        )

        out = cluster_prototype_prune(spark, SF_DIR)
        per_cluster = (
            out.groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("keep").cast("int")).alias("kept"),
            )
            .collect()
        )
        assert per_cluster
        for r in per_cluster:
            dropped = r.n * PRUNE_TOP_PER_MILLE // 1000
            assert r.kept == r.n - dropped, r

    def test_dropped_rows_are_the_most_prototypical(self, spark):
        """Within each cluster every dropped rank precedes every kept rank."""
        from jitsu_spark.operators.clustering import cluster_prototype_prune

        out = cluster_prototype_prune(spark, SF_DIR)
        joined = (
            out.where(~F.col("keep"))
            .groupBy("cluster_id")
            .agg(F.max("proto_rank").alias("max_dropped"))
            .join(
                out.where(F.col("keep"))
                .groupBy("cluster_id")
                .agg(F.min("proto_rank").alias("min_kept")),
                "cluster_id",
            )
            .collect()
        )
        assert joined  # at least one cluster both drops and keeps
        for r in joined:
            assert r.max_dropped < r.min_kept, r


class TestTwoPhaseRankParity:
    """The range-bucketed ranks must reproduce the window twins EXACTLY
    (same ranks, same n_c, same picks) — the twins are the semantic
    contract, the banded forms the 100 TB plan."""

    def test_proto_rank_matches_window_twin(self, spark):
        from jitsu_spark.operators.clustering import (
            _assigned,
            _proto_ranked,
            _proto_ranked_window,
        )

        a = _assigned(spark, SF_DIR)
        cols = ["vec_id", "cluster_id", "proto_rank", "n_c"]
        got = sorted(map(tuple, _proto_ranked(a).select(*cols).collect()))
        want = sorted(
            map(tuple, _proto_ranked_window(a).select(*cols).collect())
        )
        assert got == want

    def test_quota_pick_matches_window_twin(self, spark):
        from jitsu_spark.operators.clustering import (
            _assigned,
            _quota_pick,
            _quota_pick_window,
        )

        a = _assigned(spark, SF_DIR)
        cols = ["vec_id", "cluster_id", "pick_rank"]
        got = sorted(map(tuple, _quota_pick(a).select(*cols).collect()))
        want = sorted(map(tuple, _quota_pick_window(a).select(*cols).collect()))
        assert got == want

    def test_band_boundary_ties(self, spark):
        """Rows whose csim lands exactly on a band boundary and ties within
        a band must still rank identically to the window form."""
        from jitsu_spark.operators.clustering import (
            _proto_ranked,
            _proto_ranked_window,
        )

        rows = [
            # (vec_id, label, cluster_id, csim): boundary value 0.5 twice
            # (tie broken by vec_id), plus values straddling the band edge
            (1, 0, 0, 0.5), (2, 0, 0, 0.5), (3, 0, 0, 0.4999),
            (4, 0, 0, 0.5001), (5, 0, 0, -0.25), (6, 0, 1, 1.0),
        ]
        a = spark.createDataFrame(
            rows, "vec_id long, label int, cluster_id long, csim double"
        )
        cols = ["vec_id", "cluster_id", "proto_rank", "n_c"]
        got = sorted(map(tuple, _proto_ranked(a).select(*cols).collect()))
        want = sorted(
            map(tuple, _proto_ranked_window(a).select(*cols).collect())
        )
        assert got == want
        ranks = {t[0]: t[2] for t in got}
        assert ranks == {4: 1, 1: 2, 2: 3, 3: 4, 5: 5, 6: 1}


class TestServedPath:
    def test_kmeans_served_assignment_covers_corpus(self, spark):
        from jitsu_spark.operators.clustering import cluster_assign_served
        from jitsu_spark.tables import load_table

        out = cluster_assign_served(spark, SF_DIR, k=6)
        n_emb = load_table(spark, SF_DIR, "embeddings").count()
        assert out.count() == n_emb
        ids = {r.cluster_id for r in out.select("cluster_id").distinct().collect()}
        assert ids <= set(range(6))
        assert len(ids) >= 2  # k-means|| actually split the corpus


class TestTemperatureResample:
    def test_rates_flatten_toward_uniform(self, spark):
        """Heavier sources get cpm below 1000 x their natural share ratio;
        lighter sources get cpm above — alpha=0.5 moves every share toward
        the mean."""
        from jitsu_spark.tables import load_table

        docs = load_table(spark, SF_DIR, "documents")
        masses = {
            r.source: r.m
            for r in docs.groupBy("source").agg(F.sum("n_chars").alias("m")).collect()
        }
        from jitsu_spark.operators.sampling import temperature_resample

        out = temperature_resample(spark, SF_DIR)
        copies = {
            r.source: r.c
            for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        n_docs = {
            r.source: r.n
            for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        mean_mass = sum(masses.values()) / len(masses)
        for s, m in masses.items():
            rate = copies.get(s, 0) / n_docs[s]
            if m > mean_mass * 1.05:
                assert rate <= 1.05, (s, rate)
            if m < mean_mass * 0.95:
                assert rate >= 0.95 * 0.9, (s, rate)

    def test_copies_match_integer_rate_within_one(self, spark):
        """Per source: emitted copies == n_docs*whole + |{bucket<frac}| —
        the exact deterministic contract, no RNG drift."""
        from jitsu_spark.operators.sampling import temperature_resample
        from jitsu_spark.tables import load_table

        out = temperature_resample(spark, SF_DIR)
        docs = load_table(spark, SF_DIR, "documents")
        # recompute cpm exactly as the operator does
        masses = docs.groupBy("source").agg(F.sum("n_chars").alias("m_s")).collect()
        import math

        m = {r.source: r.m_s for r in masses}
        unit = max(1, sum(m.values()) // 1_000_000)
        mu = {k: max(1, v // unit) for k, v in m.items()}
        s = {k: math.floor(math.sqrt(v)) for k, v in mu.items()}
        mu_tot, s_tot = sum(mu.values()), sum(s.values())
        cpm = {k: (s[k] * mu_tot * 1000) // (mu[k] * s_tot) for k in m}
        got = {
            r.source: r.c
            for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        n_docs = {
            r.source: r.n
            for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for k in m:
            whole = cpm[k] // 1000
            lo, hi = n_docs[k] * whole, n_docs[k] * (whole + 1)
            assert lo <= got.get(k, 0) <= hi, (k, cpm[k], got.get(k))

    def test_rate_arithmetic_int64_safe_at_extreme_scale(self):
        """The unit quantization bounds every intermediate product below
        2^63 even for a 100 TB single source next to 1-byte sources —
        the unquantized form overflowed past ~44 GB."""
        import math

        for masses in (
            {"crawl": 10**14, "tiny": 1},
            {"a": 10**15, "b": 10**15, "c": 5},
            {f"s{i}": 10**12 + i for i in range(20)},
            {"x": 7, "y": 11},
        ):
            unit = max(1, sum(masses.values()) // 1_000_000)
            mu = {k: max(1, v // unit) for k, v in masses.items()}
            s = {k: math.floor(math.sqrt(v)) for k, v in mu.items()}
            mu_tot, s_tot = sum(mu.values()), sum(s.values())
            for k in masses:
                num = s[k] * mu_tot * 1000
                den = mu[k] * s_tot
                assert num < 2**63 and den < 2**63, (k, num, den)
                assert num // den >= 0

    def test_epochs_are_dense_from_one(self, spark):
        from jitsu_spark.operators.sampling import temperature_resample

        out = temperature_resample(spark, SF_DIR)
        per_doc = (
            out.groupBy("doc_id")
            .agg(
                F.min("epoch").alias("mn"),
                F.max("epoch").alias("mx"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        for r in per_doc:
            assert r.mn == 1 and r.mx == r.c, r


class TestClusterBalancedSample:
    def test_every_cluster_capped_at_quota(self, spark):
        from jitsu_spark.operators.clustering import (
            CLUSTER_QUOTA,
            cluster_balanced_sample,
            embedding_cluster_assign,
        )

        out = cluster_balanced_sample(spark, SF_DIR)
        sizes = {
            r.cluster_id: r.c
            for r in out.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        full = {
            r.cluster_id: r.c
            for r in embedding_cluster_assign(spark, SF_DIR)
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        for cid, n in full.items():
            assert sizes.get(cid, 0) == min(n, CLUSTER_QUOTA), (cid, n)

    def test_selection_is_rerun_stable(self, spark):
        from jitsu_spark.operators.clustering import cluster_balanced_sample

        a = {(r.vec_id, r.cluster_id) for r in cluster_balanced_sample(spark, SF_DIR).collect()}
        b = {(r.vec_id, r.cluster_id) for r in cluster_balanced_sample(spark, SF_DIR).collect()}
        assert a == b


class TestSemanticCurationPipeline:
    def test_accounting_is_consistent(self, spark):
        """Per source: 0 <= n_kept <= n_docs, kept_chars <= total chars,
        and the total kept equals the composed prune+quota survivor count."""
        from jitsu_spark.operators.clustering import (
            CLUSTER_QUOTA,
            cluster_prototype_prune,
            semantic_curation_pipeline,
        )

        out = semantic_curation_pipeline(spark, SF_DIR).collect()
        assert out
        for r in out:
            assert 0 <= r.n_kept <= r.n_docs, r
            assert r.kept_chars >= 0

        total_kept = sum(r.n_kept for r in out)
        surv = (
            cluster_prototype_prune(spark, SF_DIR)
            .where(F.col("keep"))
            .groupBy("cluster_id")
            .count()
            .collect()
        )
        expected = sum(min(r["count"], CLUSTER_QUOTA) for r in surv)
        assert total_kept == expected


class TestEmptyCodebook:
    def test_empty_centroid_table_yields_no_assignments(self, spark):
        """The map-side fold's init sentinel (cid=-1) must not leak:
        an empty codebook assigns nothing, matching the retired
        inner-join semantics."""
        from jitsu_spark.operators.clustering import _assign
        from jitsu_spark.operators.similarity import (
            _assignments,
            _fixed_k_centroids,
            _with_norm,
        )
        from jitsu_spark.tables import load_table

        emb = _with_norm(load_table(spark, SF_DIR, "embeddings"))
        empty = _fixed_k_centroids(emb, 0)
        assert _assign(emb, empty).count() == 0
        assert _assignments(emb, empty).count() == 0
