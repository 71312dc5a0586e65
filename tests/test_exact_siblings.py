"""Hash-certifiable exact forms of engine-specific computations (exact
Lloyd iteration, recall contracts over Spark ML's JVM-seeded LSH):
each oracle pins the full computation, and these tests assert the
*semantic* invariants the oracle compare can't see (cluster coverage,
contract non-vacuity)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_kmeans_exact_covers_every_vector(spark):
    from fxblue_etl_spark.operators.ml import K, kmeans_iterate_exact

    rows = kmeans_iterate_exact(spark, SF).collect()
    assert 1 <= len(rows) <= K
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sum(r.n_members for r in rows) == n_vecs
    assert all(r.inertia_q >= 0 for r in rows)
    assert all(0 <= r.cluster < K for r in rows)


def test_minhash_containment_holds_and_is_not_vacuous(spark):
    from fxblue_etl_spark.operators.dedup import minhash_lsh_containment

    row = minhash_lsh_containment(spark, SF).collect()[0]
    assert row.n_certified > 0  # fixture has real near-dup pairs
    assert row.n_missing == 0
    assert row.all_contained == 1


def test_brp_containment_holds_and_is_not_vacuous(spark):
    from fxblue_etl_spark.operators.similarity import brp_lsh_containment

    row = brp_lsh_containment(spark, SF).collect()[0]
    assert row.n_certified > 0
    assert row.n_missing == 0
    assert row.all_contained == 1


def test_containment_certified_sets_subset_of_ml_variants(spark):
    """The contracts' certified thresholds sit strictly inside the ML
    variants' cutoffs (0.8 Jaccard vs 0.21 distance; 1.2 vs 1.35
    euclidean) — assert the margin really exists in code so a future
    retune can't silently invert it."""
    from fxblue_etl_spark.operators import similarity

    assert similarity._BRP_CONTAIN_SQ < similarity._BRP_ML_CUTOFF**2
    from fxblue_etl_spark.operators import dedup

    # certified Jaccard j >= 4/5 ⇒ ML jaccard-distance 1-j <= 1/5 < 0.21
    assert 1 - dedup._MH_CONTAIN_J_NUM / dedup._MH_CONTAIN_J_DEN < 0.21
