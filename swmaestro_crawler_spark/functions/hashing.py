"""Hash functions shared by the engine and the reference oracle.

The engine's hot path uses Spark-native, whole-stage-codegen'd hashes:
``F.xxhash64`` (64-bit url_hash) and ``F.hash`` (murmur3_32 fingerprint).
The oracle (a per-row reference simulator, not on the hot path) needs
bit-identical values, so this module provides pure-Python implementations
of exactly the variants Spark evaluates (seed 42, UTF-8 bytes; Spark's
murmur3 uses a nonstandard signed per-byte tail). Tests assert equality
against Spark's own output.

Bloom bit positions are derived from the 64-bit hash with splitmix64-style
mixing + Kirsch-Mitzenmacher double hashing — implemented both in numpy
(vectorized engine probe) and pure Python (oracle).

This replaces the reference's Python-``set``/``in``-list membership
structures (Utils/Insert_Nox_Data_to_DB.py:52,
New_YouTube_Crawler_Comment.py:275-313).
"""

from __future__ import annotations

import numpy as np

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1

_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5

SPARK_HASH_SEED = 42


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P64_2) & _M64
    return (_rotl64(acc, 31) * _P64_1) & _M64


def _xxh_merge(h: int, v: int) -> int:
    h ^= _xxh_round(0, v)
    return (h * _P64_1 + _P64_4) & _M64


def xxhash64(data: bytes, seed: int = SPARK_HASH_SEED) -> int:
    """XXH64 over ``data`` returning Spark's signed int64 (F.xxhash64)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        while i + 32 <= n:
            v1 = _xxh_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        h = _xxh_merge(h, v1)
        h = _xxh_merge(h, v2)
        h = _xxh_merge(h, v3)
        h = _xxh_merge(h, v4)
    else:
        h = (seed + _P64_5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl64(h, 27) * _P64_1 + _P64_4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P64_1) & _M64
        h = (_rotl64(h, 23) * _P64_2 + _P64_3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P64_5) & _M64
        h = (_rotl64(h, 11) * _P64_1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64_str(s: str, seed: int = SPARK_HASH_SEED) -> int:
    return xxhash64(s.encode("utf-8"), seed)


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mm_mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = _rotl32(k1, 15)
    return (k1 * 0x1B873593) & _M32


def _mm_mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def murmur3_32(data: bytes, seed: int = SPARK_HASH_SEED) -> int:
    """Spark's Murmur3_x86_32.hashUnsafeBytes (F.hash on a string column).

    Nonstandard vs canonical murmur3: the unaligned tail is processed one
    SIGNED byte at a time through the full mix (mixK1 + mixH1), not the
    canonical partial-block xor.
    """
    n = len(data)
    h1 = seed & _M32
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        h1 = _mm_mix_h1(h1, _mm_mix_k1(k1))
    for i in range(aligned, n):
        b = data[i]
        if b >= 128:
            b -= 256  # signed byte, masked back to 32-bit two's complement
        h1 = _mm_mix_h1(h1, _mm_mix_k1(b & _M32))
    # fmix
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def murmur3_32_str(s: str) -> int:
    return murmur3_32(s.encode("utf-8"), SPARK_HASH_SEED)


# ---------------------------------------------------------------------------
# Bloom bit positions (double hashing over a splitmix64 remix of url_hash)
# ---------------------------------------------------------------------------
_SM_G = 0x9E3779B97F4A7C15


def _splitmix64_py(x: int) -> int:
    x = (x + _SM_G) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def bloom_positions_py(url_hash: int, k: int, bits: int) -> list[int]:
    """k bit positions for one signed-int64 hash (the scalar reference
    ``bloom_positions_np`` is tested against)."""
    u = url_hash & _M64
    h1 = _splitmix64_py(u)
    h2 = _splitmix64_py(u ^ 0xDEADBEEFCAFEF00D) | 1
    return [((h1 + j * h2) & _M64) % bits for j in range(k)]


def _splitmix64_np(x: np.ndarray) -> np.ndarray:
    x = x + np.uint64(_SM_G)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def bloom_positions_np(url_hash: np.ndarray, k: int, bits: int) -> np.ndarray:
    """(n, k) uint64 bit positions for an int64 hash array (engine probe)."""
    with np.errstate(over="ignore"):
        u = url_hash.astype(np.int64).view(np.uint64)
        h1 = _splitmix64_np(u)
        h2 = _splitmix64_np(u ^ np.uint64(0xDEADBEEFCAFEF00D)) | np.uint64(1)
        j = np.arange(k, dtype=np.uint64)
        return (h1[:, None] + j[None, :] * h2[:, None]) % np.uint64(bits)


def stable64(s: str) -> int:
    """Unsigned 64-bit seed for synthetic-web RNGs (not a Spark hash)."""
    return xxhash64_str(s, seed=0) & _M64


# ---------------------------------------------------------------------------
# Vectorized XXH64 over fixed-width byte rows (redirect-chain resolution)
# ---------------------------------------------------------------------------
# The inline redirect follower (sources/synth_web.resolve_redirects_np)
# must hash BATCHES of constructed target-URL strings inside the fetch
# worker without dropping to per-row Python — the north rule's
# no-per-row-Python clause applies to every hop of the hot path. Target
# URLs of one host-name length share one byte-matrix width, so the
# general problem reduces to XXH64 over an (n, L) uint8 matrix, which
# vectorizes exactly like the scalar loop: the stripe/tail structure is
# a function of L alone, so every row takes the same code path and each
# lane read is one contiguous column-slice view.


def _lanes_u64(mat: np.ndarray, off: int) -> np.ndarray:
    """Little-endian uint64 lane at byte offset ``off`` of every row."""
    return np.ascontiguousarray(mat[:, off:off + 8]).view(np.uint64).ravel()


def _lanes_u32(mat: np.ndarray, off: int) -> np.ndarray:
    return np.ascontiguousarray(mat[:, off:off + 4]).view(np.uint32).ravel().astype(np.uint64)


def _rotl64_np(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_np_fixed(mat: np.ndarray) -> np.ndarray:
    """XXH64 of every row of an (n, L) uint8 matrix -> signed int64 array,
    bit-identical to ``xxhash64(row.tobytes())`` / Spark's
    ``F.xxhash64`` over the same bytes (pinned by tests/test_redirects).
    Assumes a little-endian host (x86/arm; asserted)."""
    assert mat.dtype == np.uint8 and mat.ndim == 2
    import sys

    assert sys.byteorder == "little"
    n, L = mat.shape
    p1, p2, p3, p4, p5 = (
        np.uint64(_P64_1), np.uint64(_P64_2), np.uint64(_P64_3),
        np.uint64(_P64_4), np.uint64(_P64_5),
    )
    sd = np.uint64(SPARK_HASH_SEED & _M64)
    i = 0
    with np.errstate(over="ignore"):
        if L >= 32:
            v1 = np.full(n, sd + p1 + p2, dtype=np.uint64)
            v2 = np.full(n, sd + p2, dtype=np.uint64)
            v3 = np.full(n, sd, dtype=np.uint64)
            v4 = np.full(n, sd - p1, dtype=np.uint64)

            def rnd(acc, off):
                return _rotl64_np(acc + _lanes_u64(mat, off) * p2, 31) * p1

            while i + 32 <= L:
                v1, v2, v3, v4 = rnd(v1, i), rnd(v2, i + 8), rnd(v3, i + 16), rnd(v4, i + 24)
                i += 32
            h = _rotl64_np(v1, 1) + _rotl64_np(v2, 7) + _rotl64_np(v3, 12) + _rotl64_np(v4, 18)
            for v in (v1, v2, v3, v4):
                h = (h ^ (_rotl64_np(v * p2, 31) * p1)) * p1 + p4
        else:
            h = np.full(n, sd + p5, dtype=np.uint64)
        h = h + np.uint64(L)
        while i + 8 <= L:
            h ^= _rotl64_np(_lanes_u64(mat, i) * p2, 31) * p1
            h = _rotl64_np(h, 27) * p1 + p4
            i += 8
        if i + 4 <= L:
            h ^= _lanes_u32(mat, i) * p1
            h = _rotl64_np(h, 23) * p2 + p3
            i += 4
        while i < L:
            h ^= mat[:, i].astype(np.uint64) * p5
            h = _rotl64_np(h, 11) * p1
            i += 1
        h ^= h >> np.uint64(33)
        h *= p2
        h ^= h >> np.uint64(29)
        h *= p3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def xxhash64_utf8(strings) -> np.ndarray:
    """``F.xxhash64`` of every string of a non-null Arrow string array,
    computed in the worker: rows are grouped by UTF-8 byte length and
    each group is one fixed-width matrix for ``xxhash64_np_fixed``, so
    no row is hashed in Python."""
    import pyarrow as pa

    if isinstance(strings, pa.ChunkedArray):
        strings = strings.combine_chunks()
    strings = strings.cast(pa.string())
    _, offs_buf, data_buf = strings.buffers()
    offs = np.frombuffer(offs_buf, dtype=np.int32)[
        strings.offset : strings.offset + len(strings) + 1
    ]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.zeros(0, dtype=np.uint8)
    )
    starts, lens = offs[:-1], np.diff(offs)
    out = np.empty(len(strings), dtype=np.int64)
    for n in np.unique(lens):
        rows = np.flatnonzero(lens == n)
        out[rows] = xxhash64_np_fixed(data[starts[rows, None] + np.arange(n)])
    return out
