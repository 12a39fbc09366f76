"""Property-based cuckoo-filter tests (hypothesis): no false negatives
for ANY inserted key set, per-call order independence, incremental
membership monotonicity, and exact filter_unseen equivalence with the
tier on — the cuckoo sits inside the URL-seen set, so a single false
negative silently re-fetches nothing but a false MISS would re-crawl a
seen URL and corrupt crawl-order parity."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from swmaestro_crawler_spark.operators.cuckoo import (
    PartitionedCuckoo,
    cuckoo_insert,
    cuckoo_probe_np,
    empty_cuckoo,
)

keys_st = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=0, max_size=300
)


@settings(max_examples=200, deadline=None)
@given(keys=keys_st)
def test_no_false_negative_for_any_key_set(keys):
    t = empty_cuckoo(1 << 9, 4)  # capacity 2048 >> 300
    h = np.array(keys, dtype=np.int64)
    cuckoo_insert(t, h)
    if len(keys):
        assert cuckoo_probe_np(t, h).all()


@settings(max_examples=100, deadline=None)
@given(keys=keys_st, seed=st.integers(min_value=0, max_value=2**31))
def test_single_call_order_independence(keys, seed):
    h = np.array(keys, dtype=np.int64)
    t1, t2 = empty_cuckoo(1 << 9, 4), empty_cuckoo(1 << 9, 4)
    cuckoo_insert(t1, h)
    cuckoo_insert(t2, np.random.default_rng(seed).permutation(h) if len(keys) else h)
    assert np.array_equal(t1, t2)


@settings(max_examples=100, deadline=None)
@given(
    a=keys_st,
    b=keys_st,
    parts=st.sampled_from([1, 3, 8]),
)
def test_incremental_membership_is_monotone(a, b, parts):
    """Keys inserted in ANY earlier increment stay members after every
    later increment (kicks relocate fingerprints, never drop them)."""
    pc = PartitionedCuckoo.empty(parts, 1 << 9, 4)
    ha, hb = np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)
    pc.insert(ha)
    pc.insert(hb)
    both = np.concatenate([ha, hb])
    if len(both):
        assert pc.probe(both).all()


@settings(max_examples=100, deadline=None)
@given(keys=keys_st, frac=st.floats(min_value=0.0, max_value=1.0))
def test_delete_preserves_remaining_membership(keys, frac):
    """Deleting any inserted subset keeps every remaining key a member
    (kicked copies are found in either bucket) EXCEPT the documented
    collateral: a kept key sharing its full pair id (fingerprint +
    unordered bucket pair — the filter's unit of storage) with a deleted
    key shares that key's one copy, so it expires with it. The filter
    cannot distinguish such keys even in principle; the seen stack turns
    that sliver into a single over-fetch, never a missed-seen
    (cuckoo_delete's docstring). Assert the exact contract: every
    non-colliding kept key stays a member, and any membership loss is
    confined to the colliding set."""
    h = np.unique(np.array(keys, dtype=np.int64))
    t = empty_cuckoo(1 << 9, 4)
    cuckoo_insert(t, h)
    cut = int(len(h) * frac)
    gone, kept = h[:cut], h[cut:]
    from swmaestro_crawler_spark.operators.cuckoo import cuckoo_delete, pair_ids

    removed = cuckoo_delete(t, gone)
    assert removed <= len(gone)
    if len(kept):
        collides = np.isin(pair_ids(kept, t.shape[0]), pair_ids(gone, t.shape[0]))
        assert cuckoo_probe_np(t, kept[~collides]).all()
        # the falsifying shape hypothesis found (two keys, one pair id):
        # loss is allowed there, and ONLY there
        lost = kept[~cuckoo_probe_np(t, kept)]
        assert np.isin(pair_ids(lost, t.shape[0]), pair_ids(gone, t.shape[0])).all()


def test_partitioned_delete():
    rng = np.random.default_rng(3)
    keys = np.unique(rng.integers(-(2**63), 2**63 - 1, 20000, dtype=np.int64))
    pc = PartitionedCuckoo.empty(8, 1 << 11, 4)
    pc.insert(keys)
    n = pc.delete(keys[:5000])
    assert n == 5000
    assert pc.probe(keys[5000:]).all()
    # expired keys overwhelmingly gone (residuals = fp collisions only)
    assert pc.probe(keys[:5000]).mean() < 0.01


def test_filter_unseen_equals_plain_anti_join(spark):
    """With the cuckoo tier on, filter_unseen must return EXACTLY
    ``frontier ANTI JOIN seen`` — the tiers only redistribute work."""
    from swmaestro_crawler_spark.operators.cuckoo import build_cuckoo_increment
    from swmaestro_crawler_spark.operators.seen import (
        bloom_add,
        empty_bloom,
        filter_unseen,
    )

    rng = np.random.default_rng(23)
    seen_keys = rng.integers(-(2**63), 2**63 - 1, 4000, dtype=np.int64)
    frontier_keys = np.concatenate(
        [seen_keys[:1500], rng.integers(-(2**63), 2**63 - 1, 2500, dtype=np.int64)]
    )
    frontier = spark.createDataFrame(
        [(int(k), f"u{k}") for k in frontier_keys], "url_hash long, url string"
    )
    seen = spark.createDataFrame([(int(k),) for k in seen_keys], "url_hash long")

    bloom = empty_bloom(1 << 18)
    bloom_add(bloom, seen_keys, 5)
    bitmap_bc = spark.sparkContext.broadcast(bloom.tobytes())
    pc = build_cuckoo_increment(seen, PartitionedCuckoo.empty(8, 1 << 9, 4))
    cuckoo_bc = spark.sparkContext.broadcast(pc.tables)

    got = {
        r.url_hash
        for r in filter_unseen(frontier, seen, bitmap_bc, 5, cuckoo_bc).collect()
    }
    want = {
        r.url_hash
        for r in frontier.join(seen, "url_hash", "left_anti").collect()
    }
    assert got == want and len(want) > 0
