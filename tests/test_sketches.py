"""Sketch-operator invariants beyond the oracle-parity gate: accuracy
bounds for HLL (after the driver-side linear-counting correction) and
KMV, the count-min one-sided-error invariant, and the plan shapes (the
count-min probe must be a broadcast join; no cartesian anywhere)."""

from __future__ import annotations

import math
import os

from swmaestro_crawler_spark.operators import sketches

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _hll_corrected(row) -> float:
    m = sketches.HLL_M
    est = float(row.est_raw)
    if row.zero_regs > 0 and est < 2.5 * m:
        return m * math.log(m / row.zero_regs)
    return est


def test_hll_accuracy_and_registers(spark):
    rows = sketches.q_hll_distinct(spark, SF).collect()
    assert rows, "no groups"
    for r in rows:
        assert 0 < r.regs_hit <= sketches.HLL_M
        assert r.zero_regs == sketches.HLL_M - r.regs_hit
        # denominator: every register contributes a term in (0, 2^34]
        assert 0 < r.denom_scaled <= sketches.HLL_M * (1 << sketches.HLL_S)
        est = _hll_corrected(r)
        # m=64 -> ~13% std error; allow 3 sigma
        assert abs(est - r.exact_distinct) / r.exact_distinct < 0.40, (
            r.grp,
            est,
            r.exact_distinct,
        )


def test_kmv_accuracy(spark):
    rows = sketches.q_kmv_distinct(spark, SF).collect()
    assert rows
    for r in rows:
        if r.distinct_hashed < sketches.KMV_K:
            assert r.est_distinct == r.distinct_hashed
            assert r.kth_hash == -1
        else:
            assert 0 < r.kth_hash < 1 << sketches.KMV_BITS
            # K=64 -> ~12.7% std error; allow 3 sigma
            err = abs(r.est_distinct - r.distinct_hashed) / r.distinct_hashed
            assert err < 0.40, (r.grp, r.est_distinct, r.distinct_hashed)


def test_countmin_one_sided_error(spark):
    df = sketches.q_countmin_heavy_hitters(spark, SF).toPandas()
    assert len(df) > 0
    # count-min never underestimates
    assert (df.est_cnt >= df.exact_cnt).all()
    # w=512 cells per row vs ~#distinct keys -> inflation stays moderate
    assert (df.est_cnt - df.exact_cnt).median() <= 2 * df.exact_cnt.median()
    assert set(df.is_heavy.unique()) <= {0, 1}


def test_countmin_probe_is_broadcast_no_cartesian(spark):
    plan = _plan(sketches.q_countmin_heavy_hitters(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_build_has_partial_aggregation_no_joins_on_build(spark):
    plan = _plan(sketches.q_hll_distinct(spark, SF))
    # register build + per-group rollup both get map-side partials
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_kmv_set_ops_estimates_track_exact(spark):
    from pyspark.sql import functions as F

    from swmaestro_crawler_spark.operators.sketches import (
        KMV_SET_A,
        KMV_SET_B,
        q_kmv_set_ops,
    )
    from swmaestro_crawler_spark.sources.testdata import load

    o = load(spark, SF, "orders")
    a = {r[0] for r in o.filter(F.col("o_orderpriority") == KMV_SET_A)
         .select("o_custkey").distinct().collect()}
    b = {r[0] for r in o.filter(F.col("o_orderpriority") == KMV_SET_B)
         .select("o_custkey").distinct().collect()}
    row = q_kmv_set_ops(spark, SF).collect()[0]
    exact_union, exact_inter = len(a | b), len(a & b)
    # bottom-64 sketch: ~1/sqrt(K) relative error; allow 3 sigma
    assert abs(row.est_union - exact_union) <= 0.40 * exact_union
    # intersection estimate is coarser (match fraction of K) — sanity
    # bound plus the structural invariants
    assert 0 <= row.n_matches <= row.n_sketch
    assert row.est_intersect <= row.est_union
    assert abs(row.est_intersect - exact_inter) <= max(
        0.75 * exact_inter, exact_union * 3 // 64
    )


def test_quantile_sketch_leaves_nothing_cached(spark):
    """The exact-p50 side persists a range-sorted frame
    (``grouped_prefix_sum``); the query must release it, so running the
    query leaves Spark's cache manager as it found it."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rows = sketches.q_quantile_sketch(spark, SF).collect()
    assert rows
    assert cache.isEmpty()
