"""Systematic PPS sampling: exactly K picks, multiplicity proportional
to weight, deterministic, no single-reducer stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from swmaestro_crawler_spark.operators.curation import PPS_K, q_pps_sample

SF_DIR = "/root/testdata/sf0.001"


def test_pps_exactly_k_picks_and_weight_proportionality(spark):
    out = q_pps_sample(spark, SF_DIR).collect()
    assert sum(r.n_picks for r in out) == PPS_K
    # multiplicity tracks weight: every doc's pick count is within 1 of
    # the ideal w * K / total (the systematic-sampling guarantee)
    from swmaestro_crawler_spark.sources.testdata import load

    total = load(spark, SF_DIR, "documents").agg(F.sum("n_chars")).first()[0]
    for r in out:
        ideal = r.w * PPS_K / total
        assert abs(r.n_picks - ideal) <= 1.0


def test_pps_sample_leaves_nothing_cached(spark):
    """The cumulative weight line persists a range-sorted frame
    (``grouped_prefix_sum``); the query must release it, so running the
    query leaves Spark's cache manager as it found it."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rows = q_pps_sample(spark, SF_DIR).collect()
    assert sum(r.n_picks for r in rows) == PPS_K
    assert cache.isEmpty()


def test_pps_deterministic_across_parallelism(spark):
    a = sorted(map(tuple, q_pps_sample(spark, SF_DIR).collect()))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = sorted(map(tuple, q_pps_sample(spark, SF_DIR).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_quantile_sketch_estimates_track_exact(spark):
    """Sampled quantile estimates stay within a few percent of the exact
    full-group quantiles (K=256 uniform sample), and the median estimate
    brackets the exact median's neighborhood."""
    from swmaestro_crawler_spark.operators.sketches import q_quantile_sketch

    rows = q_quantile_sketch(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r.sample_n <= 256 and r.n_rows >= r.sample_n
        assert r.p25_est <= r.p50_est <= r.p75_est <= r.p90_est
        # sampling error bound: ~1/sqrt(K) relative rank error -> the
        # value estimate should be within 25% of exact for this data
        assert abs(r.p50_est - r.p50_exact) / r.p50_exact < 0.25


def test_bottom_k_two_phase_equals_single_window(spark):
    """The salted two-phase bottom-K selection must pick EXACTLY the
    rows the naive single window picks, including under adversarial
    skew (one group holding ~all rows) and tiny groups (< K rows),
    for several salt counts."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from swmaestro_crawler_spark.operators.sketches import bottom_k_by_hash

    for seed, k, salts in [(3, 8, 4), (11, 16, 16), (42, 5, 3)]:
        rng = random.Random(seed)
        data = []
        # group "hot" holds 90% of rows; "a"/"b" are tiny (some < k)
        hashes = rng.sample(range(1, 100_000), 400)
        for i, h in enumerate(hashes):
            grp = "hot" if i % 10 else rng.choice(["a", "b"])
            data.append((grp, h, rng.randrange(1000)))
        rows = spark.createDataFrame(data, "grp string, h long, v long")
        naive = (
            rows.withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("grp").orderBy("h")),
            )
            .filter(F.col("rn") <= k)
            .drop("rn")
        )
        got = sorted(map(tuple, bottom_k_by_hash(rows, k, salts).collect()))
        want = sorted(map(tuple, naive.collect()))
        assert got == want, f"seed={seed} k={k} salts={salts}"
