"""Pure-Python hashes must match Spark's codegen'd natives bit-for-bit —
this is what lets the per-row oracle compare against the JVM hot path."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from swmaestro_crawler_spark.functions.hashing import (
    bloom_positions_np,
    bloom_positions_py,
    murmur3_32_str,
    xxhash64_str,
    xxhash64_utf8,
)

CASES = [
    "",
    "a",
    "abc",
    "abcd",
    "abcdefgh",
    "http://host0001.example.com/p/deadbeef?x=1",
    "x" * 31,
    "y" * 32,
    "z" * 33,
    "w" * 100,
    "한글유니코드",
    "emoji🎉test",
]


def test_xxhash64_matches_spark(spark):
    df = spark.createDataFrame([(t,) for t in CASES], ["s"])
    for row in df.select("s", F.xxhash64("s").alias("h")).collect():
        assert xxhash64_str(row.s) == row.h, row.s


def test_xxhash64_utf8_matches_spark(spark):
    """The fetch worker's grouped XXH64 equals F.xxhash64 in every
    stripe/tail shape: UTF-8 byte lengths 0-3, 4-7, 8-31 and >= 32, each
    with multi-byte characters, hashed in one mixed batch (rows of one
    length are gathered from across the array) and from a sliced array
    (non-zero Arrow offset). A canonical URL has at least 9 bytes, so
    the two shortest bands are plain strings."""
    import pyarrow as pa

    from swmaestro_crawler_spark.functions.canonical import canonicalize_series

    short = ["", "é", "ab", "日", "abcd", "日本", "éab", "abcdefg"]
    urls = list(
        canonicalize_series(
            pd.Series(
                [
                    "a",
                    "ü.kr",
                    "h.io/p/日本",
                    "HTTP://Host.IO:80/x" + "y" * 11,
                    "http://host0001.example.com/p/deadbeef?x=1",
                    "http://한글.example.com/w/유니코드",
                    "https://EXAMPLE.com:443/pl/emoji🎉/",
                    "w" * 100,
                ]
            )
        )
    )
    strings = short[::2] + urls + short[1::2]
    bands = {}
    for u in strings:
        n = len(u.encode())
        band = 0 if n < 4 else 1 if n < 8 else 2 if n < 32 else 3
        bands.setdefault(band, []).append(len(u) != n)
    assert sorted(bands) == [0, 1, 2, 3] and all(map(any, bands.values())), bands
    want = {
        r.s: r.h
        for r in spark.createDataFrame([(u,) for u in strings], ["s"])
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for arr in (pa.array(strings), pa.array(["pad"] + strings).slice(1)):
        assert [int(h) for h in xxhash64_utf8(arr)] == [want[u] for u in strings]


def test_murmur3_matches_spark(spark):
    df = spark.createDataFrame([(t,) for t in CASES], ["s"])
    for row in df.select("s", F.hash("s").alias("h")).collect():
        assert murmur3_32_str(row.s) == row.h, row.s


def test_bloom_positions_py_np_agree():
    hs = np.array([xxhash64_str(c) for c in CASES], dtype=np.int64)
    got_np = bloom_positions_np(hs, 5, 1 << 18)
    for i, h in enumerate(hs):
        assert bloom_positions_py(int(h), 5, 1 << 18) == list(got_np[i])
