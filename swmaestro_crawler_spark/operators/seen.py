"""Two-tier URL-seen set: broadcast bloom probe -> exact anti-join confirm.

Replaces the reference's membership structures — Python ``set`` diff before
insert (Utils/Insert_Nox_Data_to_DB.py:52), ``cid in ret_cids`` list scans
(New_YouTube_Crawler_Comment.py:275-313), and the per-row
``SELECT idx FROM comment WHERE comment_id=...`` existence probe
(New_YouTube_Crawler_Comment.py:414-426) — with:

  tier 1  broadcast bloom bitmap, probed by a vectorized Arrow
          ``mapInPandas`` stage (numpy bit ops, no row loop; the optional
          cuckoo tier re-probes the bloom positives in the same pass). No
          false negatives: probe-negative rows are definitively unseen and
          skip the shuffle entirely.
  tier 2  exact confirm for probe-positives only: left ANTI join against
          the ``seen`` table on url_hash. The table carries a murmur3_32
          ``fingerprint`` and a ``bucket = pmod(url_hash, B)`` column
          (the cuckoo-confirm tier realized as a hash-bucketed join — the
          idiomatic-Spark equivalent of an in-memory cuckoo filter).

At 10^10 URLs the bloom absorbs the overwhelmingly common "never seen"
case, so only the tiny probe-positive slice shuffles against the seen
table; AQE sizes that join at runtime.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from ..functions.hashing import bloom_positions_np


def empty_bloom(bits: int) -> np.ndarray:
    return np.zeros(bits // 64, dtype=np.uint64)


def bloom_add(bitmap: np.ndarray, hashes: np.ndarray, k: int) -> np.ndarray:
    """Set bits for an int64 hash array (numpy, vectorized)."""
    return or_words(bitmap, bloom_words(hashes, k, bitmap.shape[0] * 64))


def bloom_words(hashes: np.ndarray, k: int, bits: int) -> np.ndarray:
    """The bloom increment of ``hashes`` as its non-zero words: a (2, m)
    uint64 array of (word index, word) columns, m <= k * len(hashes)
    whatever ``bits`` is, so a fetch task can ship its rows' increment
    without a bitmap-sized buffer."""
    if len(hashes) == 0:
        return np.zeros((2, 0), dtype=np.uint64)
    pos = bloom_positions_np(np.asarray(hashes, dtype=np.int64), k, bits).ravel()
    pos.sort()
    idx = pos >> np.uint64(6)
    first = np.flatnonzero(np.r_[True, idx[1:] != idx[:-1]])
    bit = np.uint64(1) << (pos & np.uint64(63))
    return np.stack([idx[first], np.bitwise_or.reduceat(bit, first)])


def or_words(bitmap: np.ndarray, words: np.ndarray) -> np.ndarray:
    """OR ``bloom_words`` output (word indices may repeat) into ``bitmap``."""
    np.bitwise_or.at(bitmap, words[0].astype(np.intp), words[1])
    return bitmap


def _probe(bitmap: np.ndarray, hashes: np.ndarray, k: int) -> np.ndarray:
    """Boolean maybe-seen mask; False is definitive (no false negatives)."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    bits = bitmap.shape[0] * 64
    pos = bloom_positions_np(np.asarray(hashes, dtype=np.int64), k, bits)
    got = (bitmap[(pos >> np.uint64(6)).ravel()] >> (pos & np.uint64(63)).ravel()) & np.uint64(1)
    return got.reshape(pos.shape).all(axis=1)


def build_bloom_distributed(df: DataFrame, bits: int, k: int) -> np.ndarray:
    """Aggregate per-partition ``url_hash`` bitmaps into one bloom bitmap.

    Bitmap OR is associative+commutative, so each partition builds its
    local bitmap (vectorized ``bloom_add``); the partitions are
    ``coalesce``d to <= 8 fat aggregation partitions (no shuffle), each
    emits one bitmap row, and the driver ORs the <= 8 collected bitmaps
    (Arrow ``toArrow``, not pickled rows). The driver never sees per-URL
    hashes — only O(agg_parts) fixed-size bitmaps — so this stays
    driver-safe at 10^10 URLs. (An executor-side ``treeAggregate`` would
    merge down to ONE bitmap before collect; with <= 8 bitmaps of a few
    MB each, the driver-side OR is the same cost without an extra
    shuffle stage.) Serves only rebuilds from a set of hashes (a seen
    table, a benchmark's earlier crawl): a crawl round's increment comes
    out of its fetch pass (``operators/fetch.RoundOutputs``), bit for
    bit the bitmap this builds over the round's resolved rows."""
    def to_bitmaps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bm = empty_bloom(bits)
        n = 0
        for b in batches:
            bloom_add(bm, b["url_hash"].to_numpy(dtype=np.int64), k)
            n += len(b)
        if n:  # empty partitions contribute nothing
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    # A few fat aggregation partitions: each bitmap cell is bits/8 bytes,
    # so the cost is per-PARTITION, not per-row — coalesce (no shuffle)
    # bounds the number of bitmaps. Collection is Arrow (toArrow), not
    # row-pickled RDD records; the driver ORs <= 8 bitmaps. (At a true
    # 10^10 design point the seen set is bucket-partitioned and each
    # bucket carries its own, smaller bloom; the driver never holds more
    # than the broadcast bitmap either way.)
    agg_parts = 8
    tbl = (
        df.select("url_hash")
        .coalesce(agg_parts)
        .mapInPandas(to_bitmaps, "bm binary")
        .toArrow()
    )
    out = empty_bloom(bits)
    for cell in tbl.column("bm"):
        out |= np.frombuffer(cell.as_py(), dtype=np.uint64)
    return out


def bloom_probe(df: DataFrame, bitmap_bc, k: int, cuckoo_bc=None) -> DataFrame:
    """Vectorized Arrow probe stage: adds a boolean ``maybe_seen``, True where
    every approximate tier says "maybe seen". With ``cuckoo_bc``
    (broadcast (P, B, S) cuckoo tables) the bloom positives are
    re-probed against the cuckoo in the SAME pass, so both tiers cost one
    crossing into Python per row. Every tier is FN-free: False is
    definitive."""

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bm = np.frombuffer(bitmap_bc.value, dtype=np.uint64)
        if cuckoo_bc is not None:
            from .cuckoo import PartitionedCuckoo

            pc = PartitionedCuckoo(cuckoo_bc.value)
        for b in batches:
            h = b["url_hash"].to_numpy(dtype=np.int64)
            hit = _probe(bm, h, k)
            if cuckoo_bc is not None:
                hit[hit] = pc.probe(h[hit])
            b["maybe_seen"] = hit
            yield b

    # fresh StructType — df.schema is cached on the DataFrame and .add mutates
    out_schema = StructType(
        list(df.schema.fields) + [StructField("maybe_seen", BooleanType(), False)]
    )
    return df.mapInPandas(probe, out_schema)


def unseen_of_probed(probed: DataFrame, seen: DataFrame) -> DataFrame:
    """Rows of an already-probed frame (``bloom_probe`` output) whose
    url_hash is NOT in the seen set, without the ``maybe_seen`` column.

    Probe-negative rows pass through with no shuffle; probe-positive rows
    are confirmed by an anti-join on url_hash against the seen table.
    Both branches read ``probed``, so a caller that persists it (the
    round does, inside its dedup+robots node) runs the probe once."""
    negatives = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    positives = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_unseen = positives.join(seen.select("url_hash"), "url_hash", "left_anti")
    return negatives.unionByName(confirmed_unseen)


def filter_unseen(
    frontier: DataFrame, seen: DataFrame, bitmap_bc, k: int, cuckoo_bc=None
) -> DataFrame:
    """frontier rows whose url_hash is NOT in the seen set:
    ``unseen_of_probed(bloom_probe(frontier, ...), seen)``.

    With the optional cuckoo tier on (``cuckoo_bc``: broadcast
    (P, B, S) fingerprint tables), bloom positives are re-probed at the
    cuckoo's ~1e-4 FP rate in the same probe pass, so only its positives
    — truth plus a sliver of double-FPs — reach the anti-join shuffle.
    Every tier is FN-free, so the result is exactly
    ``frontier ANTI JOIN seen`` in all configurations, just cheaper.
    Nothing is persisted here, so both branches of ``unseen_of_probed``
    re-run the probe; a pipeline that can cache the probed frame probes
    once itself (``plans.round.unseen_frontier``).
    """
    return unseen_of_probed(bloom_probe(frontier, bitmap_bc, k, cuckoo_bc=cuckoo_bc), seen)


def as_seen_rows(fetched_ok: DataFrame, buckets: int, round_: int) -> DataFrame:
    """Project fetched URLs into SEEN-schema rows (fingerprint = murmur3_32
    of the canonical URL via Spark-native F.hash, bucketed for co-located
    future joins)."""
    return fetched_ok.select(
        F.col("url_hash"),
        F.col("fingerprint"),
        F.pmod(F.col("url_hash"), F.lit(buckets)).cast("int").alias("bucket"),
        F.lit(round_).cast("int").alias("round_seen"),
    )
