"""Partitioned cuckoo-filter tier of the URL-seen set.

The seen stack is bloom -> cuckoo -> exact anti-join (each tier optional
but ordered): the broadcast bloom absorbs the overwhelmingly common
"never seen" case with ~10 bits/key; the cuckoo filter re-probes the
bloom's false positives at a ~2*slots/2^16 FP rate (16-bit fingerprints)
for ~18 bits/key over the *seen* population only; whatever survives both
probabilistic tiers — truth plus a ~1e-4 sliver of FPs — pays the exact
anti-join shuffle. Neither probabilistic tier can produce a false
negative, so the exact tier keeps the final word and crawl digests are
IDENTICAL with the cuckoo on or off (pinned by tests/test_cuckoo.py).

Partitioning (the 10^10 design): keys are sharded by
``url_hash mod P`` into P independent sub-filters over DISJOINT key
sets. Sub-filters of disjoint key sets never interact, so the
distributed increment is embarrassingly parallel — each shard's delta
hashes update that shard's table on its own executor task and the
driver concatenates the P returned shards (the cuckoo analogue of the
bloom's OR-reduce; the driver never sees per-URL hashes, only P
fixed-size tables). Probe is one vectorized numpy gather inside the
same Arrow ``mapInPandas`` stage as the bloom probe.

Insertion is the standard partial-key cuckoo scheme (Fan et al. 2014,
"Cuckoo Filter: Practically Better Than Bloom"): fingerprint
``fp = high 16 bits of the key`` (0 remapped — 0 marks an empty slot),
buckets ``i1 = h mod B`` and ``i2 = i1 XOR odd_mix(fp)``, ``S`` slots
per bucket, bounded eviction kicks. The batch insert here is WAVE-
vectorized: each wave places every still-homeless fingerprint that
finds a free slot (conflict-resolved by a stable rank-within-bucket
trick), then at most one eviction per contested bucket; the loop is
O(waves), never O(rows). Hashes are deduped+sorted before insertion, so
ONE insert call's resulting table is a pure function of (prior table,
key set) — independent of partitioning, arrival order, and cluster size
(the determinism rule the whole engine follows; a different SEQUENCE of
increments may produce a different slot layout with identical
membership, which is why crawl digests never depend on filter bytes —
the exact tier has the final word). A filter past its load capacity
raises — never a silent membership lie.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

FP_BITS = 16
_FP_MASK = np.uint64((1 << FP_BITS) - 1)
_MIX = np.uint64(0x5BD1E995)  # odd multiplier: fp -> alt-bucket delta
MAX_WAVES = 500
CUCKOO_PARTS = 8  # the crawl's disjoint key shards (url_hash mod P)


def _as_u64(hashes: np.ndarray) -> np.ndarray:
    return hashes.astype(np.int64).view(np.uint64)


def _fingerprints(h: np.ndarray) -> np.ndarray:
    fp = (h >> np.uint64(64 - FP_BITS)) & _FP_MASK
    return np.where(fp == 0, np.uint64(1), fp).astype(np.uint16)


_PHI = np.uint64(0x9E3779B97F4A7C15)  # Fibonacci-hash mixer


def _bucket1(h: np.ndarray, n_buckets: int) -> np.ndarray:
    # multiply-shift mix BEFORE bucketing: the raw low bits also route
    # shard selection (h mod P), so `h mod B` inside a shard would hit
    # only every P-th bucket — i1 must come from independent bits
    return (((h * _PHI) >> np.uint64(17)) % np.uint64(n_buckets)).astype(np.int64)


def _alt_bucket(i: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    # B is a power of two, so XOR keeps the index in range; a zero delta
    # would alias i2 == i1, costing that key its second bucket — map it
    # to 1 (still deterministic, still FN-free: probe uses the same map)
    delta = (fp.astype(np.uint64) * _MIX) & np.uint64(n_buckets - 1)
    delta = np.where(delta == 0, np.uint64(1), delta)
    return (i.astype(np.uint64) ^ delta).astype(np.int64)


def empty_cuckoo(n_buckets: int, slots: int = 4) -> np.ndarray:
    if n_buckets & (n_buckets - 1):
        raise ValueError("cuckoo n_buckets must be a power of two")
    return np.zeros((n_buckets, slots), dtype=np.uint16)


def pair_ids(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    """The (fingerprint, unordered bucket pair) identity of each key —
    the unit of storage: the filter keeps exactly ONE copy per distinct
    pair id. Two distinct hashes with equal pair ids are
    indistinguishable to the filter (membership, insert idempotence, and
    deletion all operate on the pair id). i2 = i1 XOR delta(fp) is an
    involution, so min(i1, i2) canonicalizes the unordered pair."""
    h = _as_u64(np.asarray(hashes, dtype=np.int64))
    fp = _fingerprints(h)
    i1 = _bucket1(h, n_buckets)
    i2 = _alt_bucket(i1, fp, n_buckets)
    return (np.minimum(i1, i2).astype(np.uint64) << np.uint64(FP_BITS)) | fp.astype(
        np.uint64
    )


def cuckoo_insert(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Insert int64 ``hashes`` into ``table`` IN PLACE (returns it).
    Deterministic: input is deduped+sorted, waves use stable ranks, and
    eviction victims rotate by wave index. Raises if MAX_WAVES is not
    enough (filter over capacity) — callers size B*S >= ~1.05x keys."""
    n_buckets, slots = table.shape
    h = np.unique(_as_u64(np.asarray(hashes, dtype=np.int64)))
    if h.size == 0:
        return table
    fp = _fingerprints(h)
    i1 = _bucket1(h, n_buckets)
    i2 = _alt_bucket(i1, fp, n_buckets)

    # collapse IN-BATCH (fingerprint, bucket-pair) collisions the same way
    # cross-batch ones collapse against the table: the filter stores one
    # copy per (fp, {i1, i2}) — two distinct hashes sharing both inside a
    # single insert call must not place two copies, or table bytes would
    # differ between one-call and two-call insertion of the same key set
    # (see pair_ids — the pair id is the filter's unit of storage)
    pair_key = (
        np.minimum(i1, i2).astype(np.uint64) << np.uint64(FP_BITS)
    ) | fp.astype(np.uint64)
    _, keep = np.unique(pair_key, return_index=True)
    keep.sort()
    fp, i1, i2 = fp[keep], i1[keep], i2[keep]

    # pending items: fingerprint, the bucket currently being tried, the
    # other bucket of its pair, and whether it exhausted free-slot tries
    p_fp, p_cur, p_oth = fp, i1, i2
    # drop keys whose fingerprint already sits in either bucket (set
    # semantics — re-adding a seen URL is a no-op, and batch duplicates
    # by fingerprint collapse here too)
    present = (table[p_cur] == p_fp[:, None]).any(1) | (
        table[p_oth] == p_fp[:, None]
    ).any(1)
    p_fp, p_cur, p_oth = p_fp[~present], p_cur[~present], p_oth[~present]

    last_sizes: list[int] = []
    for wave in range(MAX_WAVES):
        if p_fp.size == 0:
            return table
        # stall detector: the homeless count not improving for 12 waves
        # means the walk is cycling — hand the tail to BFS now instead
        # of burning the wave budget
        last_sizes.append(p_fp.size)
        if len(last_sizes) > 12 and min(last_sizes[:-12]) <= min(last_sizes[-12:]):
            break
        # --- placement wave: stable rank within target bucket ---------
        order = np.argsort(p_cur, kind="stable")
        sb = p_cur[order]
        first = np.r_[True, sb[1:] != sb[:-1]]
        rank = np.arange(sb.size) - np.maximum.accumulate(
            np.where(first, np.arange(sb.size), 0)
        )
        free = (table[sb] == 0).astype(np.int8)
        n_free = free.sum(axis=1)
        placed_sorted = rank < n_free
        if placed_sorted.any():
            pb = sb[placed_sorted]
            # slot index: the (rank)-th free slot of the bucket
            slot_rank = rank[placed_sorted]
            free_slots = free[placed_sorted]
            # position of the k-th set bit per row, vectorized
            cum = np.cumsum(free_slots, axis=1)
            slot = (cum == (slot_rank + 1)[:, None]).argmax(axis=1)
            table[pb, slot] = p_fp[order][placed_sorted]
        remaining = order[~placed_sorted]
        p_fp, p_cur, p_oth = p_fp[remaining], p_cur[remaining], p_oth[remaining]
        if p_fp.size == 0:
            return table
        # --- retry/eviction wave --------------------------------------
        # items that still have their other bucket untried this "trip"
        # just swap target; to bound state we alternate: even waves try
        # the swap, odd waves evict rank-0 contenders.
        if wave % 2 == 0:
            p_cur, p_oth = p_oth, p_cur
            continue
        order = np.argsort(p_cur, kind="stable")
        sb = p_cur[order]
        first = np.r_[True, sb[1:] != sb[:-1]]
        # one eviction per contested bucket per wave
        ev = first
        ev_bucket = sb[ev]
        # victim slot chosen per evicting fingerprint + wave (a
        # deterministic pseudorandom walk): a FIXED rotation shared by
        # all buckets lets two contending fingerprints trade the same
        # slot forever — cycles that classical cuckoo escapes with
        # randomness, escaped here by decorrelating on (fp, wave)
        ev_fp = p_fp[order][ev]
        ev_slot = (
            (ev_fp.astype(np.int64) * 2654435761 + wave * 40503) % slots
        ).astype(np.int64)
        victim_fp = table[ev_bucket, ev_slot].copy()
        table[ev_bucket, ev_slot] = ev_fp
        # victims re-enter homeless, targeting their alternate bucket
        v_cur = _alt_bucket(ev_bucket, victim_fp, n_buckets)
        keep = order[~ev]
        p_fp = np.concatenate([p_fp[keep], victim_fp])
        p_cur = np.concatenate([p_cur[keep], v_cur])
        p_oth = np.concatenate([p_oth[keep], ev_bucket])
    # The deterministic parallel walk can enter a limit cycle among a
    # handful of mutually-full buckets while free slots exist elsewhere
    # (randomized cuckoo escapes these by chance; a pure function of the
    # key set cannot). The stuck tail is tiny (<0.5% of keys at sane
    # loads), so finish it with per-item BFS eviction — the textbook
    # insertion, guaranteed to find any reachable free slot — in
    # deterministic (fp, bucket) order.
    order = np.lexsort((p_cur, p_fp))
    for k in order:
        _bfs_insert(table, int(p_fp[k]), int(p_cur[k]), int(p_oth[k]))
    return table


_BFS_LIMIT = 4096  # buckets explored before declaring true exhaustion


def _bfs_insert(table: np.ndarray, fp0: int, b1: int, b2: int) -> None:
    """Place ``fp0`` into ``table`` by BFS over eviction chains: find the
    nearest bucket with a free slot reachable by displacing residents to
    THEIR alternate buckets, then unwind the chain. Deterministic (FIFO
    over sorted start buckets, slots scanned in order)."""
    from collections import deque

    n_buckets, slots = table.shape
    starts = sorted({b1, b2})
    for b in starts:
        s = int(np.argmax(table[b] == 0))
        if table[b, s] == 0:
            table[b, s] = fp0
            return
    parent: dict[int, tuple[int, int]] = {}
    seen = set(starts)
    q = deque(starts)
    target = -1
    while q and target < 0:
        b = q.popleft()
        for s in range(slots):
            vfp = np.uint16(table[b, s])
            nb = int(
                _alt_bucket(
                    np.asarray([b], dtype=np.int64),
                    np.asarray([vfp], dtype=np.uint16),
                    n_buckets,
                )[0]
            )
            if nb in seen:
                continue
            parent[nb] = (b, s)
            seen.add(nb)
            if (table[nb] == 0).any():
                target = nb
                break
            q.append(nb)
        if len(seen) > _BFS_LIMIT:
            break
    if target < 0:
        raise RuntimeError(
            "cuckoo_insert: no reachable free slot within "
            f"{_BFS_LIMIT} buckets — filter over capacity; increase n_buckets"
        )
    # unwind: shift each chain resident into the free slot downstream
    b = target
    while b in parent:
        pb, s = parent[b]
        free_slot = int(np.argmax(table[b] == 0))
        table[b, free_slot] = table[pb, s]
        table[pb, s] = 0
        b = pb
    table[b, int(np.argmax(table[b] == 0))] = fp0


def cuckoo_delete(table: np.ndarray, hashes: np.ndarray) -> int:
    """Delete ``hashes`` from ``table`` IN PLACE — the capability a bloom
    filter structurally lacks (Fan et al. 2014 §3.3), needed when seen
    entries expire (e.g. a revisit policy that re-opens URLs). Removes at
    most ONE matching fingerprint copy per key, preferring bucket i1
    (deterministic: lowest slot first), and returns the number of keys
    actually removed. Only delete keys that were inserted: deleting a
    never-inserted key whose fingerprint collides with a resident would
    evict the resident's copy and break ITS no-false-negative guarantee
    — same contract as every cuckoo filter. One engine-specific caveat:
    ``cuckoo_insert`` stores ONE copy per ``pair_ids`` identity
    (fingerprint + unordered bucket pair), so two URLs that collide on
    the full pair id (~1e-9 per pair within a shard) share a copy —
    deleting one expires BOTH from this tier, and the survivor then
    probes negative. In the seen stack a cuckoo negative is treated as
    definitively-unseen (it skips the exact tier), so the collateral
    expiry re-fetches that one URL exactly once — an over-fetch, never a
    missed-seen or a lost document; it is re-inserted on that fetch.
    Deletion is only reachable from expiry/revisit flows where re-fetch
    is the intended outcome. Bulk expiries that must be collateral-free
    should instead rebuild the tier from the rolled-back seen table
    (``build_cuckoo_increment`` — the path resume already uses). The
    one-copy design is load-bearing: it is what makes increment replay
    after a crash idempotent and table bytes a pure function of the key
    set; a per-key copy count cannot be maintained with only
    fingerprints stored (the filter cannot tell re-insert of X from
    first-insert of a colliding Y)."""
    n_buckets, slots = table.shape
    h = np.unique(_as_u64(np.asarray(hashes, dtype=np.int64)))
    if h.size == 0:
        return 0
    fp = _fingerprints(h)
    i1 = _bucket1(h, n_buckets)
    i2 = _alt_bucket(i1, fp, n_buckets)
    removed = 0
    # group-by-bucket vectorization is possible but deletes are rare
    # (expiry batches), and two keys may contend for one slot — the
    # per-key loop is the correct, obviously-serializable form
    for k in range(h.size):
        for b in (int(i1[k]), int(i2[k])):
            hit = np.nonzero(table[b] == fp[k])[0]
            if hit.size:
                table[b, int(hit[0])] = 0
                removed += 1
                break
    return removed


def cuckoo_probe_np(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership: True iff the fingerprint occupies either
    of the key's two buckets. No false negatives for inserted keys."""
    n_buckets, _ = table.shape
    h = _as_u64(np.asarray(hashes, dtype=np.int64))
    fp = _fingerprints(h)
    i1 = _bucket1(h, n_buckets)
    i2 = _alt_bucket(i1, fp, n_buckets)
    return (table[i1] == fp[:, None]).any(1) | (table[i2] == fp[:, None]).any(1)


# ---------------------------------------------------------------------------
# partitioned filter: P disjoint key shards, each its own table
# ---------------------------------------------------------------------------
class PartitionedCuckoo:
    """P sub-filters over disjoint ``url_hash mod P`` key shards.
    ``tables`` is one contiguous (P, B, S) uint16 array — trivially
    serialized (``.tobytes()`` / np.save) for broadcast + checkpoint."""

    def __init__(self, tables: np.ndarray):
        if tables.ndim != 3:
            raise ValueError("tables must be (P, B, S)")
        self.tables = tables

    @classmethod
    def empty(cls, parts: int, n_buckets: int, slots: int = 4) -> "PartitionedCuckoo":
        if parts < 1:
            raise ValueError("parts must be >= 1")
        base = empty_cuckoo(n_buckets, slots)
        return cls(np.broadcast_to(base, (parts,) + base.shape).copy())

    def _shard(self, h: np.ndarray) -> np.ndarray:
        # SIGNED pmod, matching Spark's F.pmod repartition key in
        # build_cuckoo_increment exactly — shard routing must agree
        # between driver, executor task, and Spark partitioner or two
        # tasks would update one shard and the last write would win
        return np.mod(h.astype(np.int64), self.tables.shape[0])

    def insert(self, hashes: np.ndarray) -> "PartitionedCuckoo":
        h = np.asarray(hashes, dtype=np.int64)
        shard = self._shard(h)
        for p in np.unique(shard):
            cuckoo_insert(self.tables[p], h[shard == p])
        return self

    def delete(self, hashes: np.ndarray) -> int:
        h = np.asarray(hashes, dtype=np.int64)
        shard = self._shard(h)
        return sum(
            cuckoo_delete(self.tables[p], h[shard == p]) for p in np.unique(shard)
        )

    def probe(self, hashes: np.ndarray) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.int64)
        if h.size == 0:
            return np.zeros(0, dtype=bool)
        shard = self._shard(h)
        out = np.zeros(h.size, dtype=bool)
        for p in np.unique(shard):
            m = shard == p
            out[m] = cuckoo_probe_np(self.tables[p], h[m])
        return out


def build_cuckoo_increment(df: DataFrame, current: PartitionedCuckoo) -> PartitionedCuckoo:
    """Distributed increment: repartition the delta's ``url_hash``
    values to their key shard, update each shard's table in ITS OWN
    task (the previous state arrives by broadcast; disjoint shards
    never interact), and concatenate the P returned tables on the
    driver — the cuckoo
    analogue of the bloom's per-partition OR-reduce. The driver sees P
    fixed-size tables, never per-URL hashes. Shards with no delta rows
    are carried over unchanged (no task, no network)."""
    parts, n_buckets, slots = current.tables.shape
    spark = df.sparkSession
    state_bc = spark.sparkContext.broadcast(current.tables.tobytes())

    def upd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate each shard's hashes across ALL Arrow batches and call
        # cuckoo_insert exactly ONCE per shard: the kernel's table bytes
        # are a pure function of (prior table, key set) only per CALL, so
        # per-batch insertion would make checkpointed bytes depend on
        # Arrow batch boundaries and shuffle row order (membership and
        # crawl digests are unaffected either way — the exact tier has
        # the final word — but byte-determinism is the engine rule)
        pending: dict[int, list[np.ndarray]] = {}
        for b in batches:
            h = b["url_hash"].to_numpy(dtype=np.int64)
            shard = np.mod(h, parts)  # == F.pmod, keeps shard<->task 1:1
            for p in np.unique(shard):
                p = int(p)
                pending.setdefault(p, []).append(h[shard == p])
        if pending:
            state = np.frombuffer(state_bc.value, dtype=np.uint16).reshape(
                parts, n_buckets, slots
            )
            out_parts, out_tbls = [], []
            for p, chunks in pending.items():
                tbl = state[p].copy()
                cuckoo_insert(tbl, np.concatenate(chunks))
                out_parts.append(p)
                out_tbls.append(tbl.tobytes())
            yield pd.DataFrame({"part": out_parts, "tbl": out_tbls})

    rows = (
        df.select("url_hash")
        .repartition(parts, F.pmod(F.col("url_hash"), F.lit(parts)))
        .mapInPandas(upd, "part int, tbl binary")
        .toArrow()
    )
    out = current.tables.copy()
    for part, tbl in zip(rows.column("part"), rows.column("tbl")):
        out[part.as_py()] = np.frombuffer(tbl.as_py(), dtype=np.uint16).reshape(
            n_buckets, slots
        )
    state_bc.unpersist()
    return PartitionedCuckoo(out)
