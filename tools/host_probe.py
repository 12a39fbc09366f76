"""Host scaling probe: the host's own N -> 4N ceilings, engine-free.

One box stands in for N and 4N executors in tools/bench_scaling.py, but
the levels share its memory system, while a real cluster brings 4x
memory systems along with 4x cores. This tool measures how two
primitive kernels scale on THIS host across the same pair of process
counts the crawl uses (``bench_scaling.host_pair``), engine code nowhere
in the loop, so the crawl's efficiency can be read against the host's.

Two kernels, each run in P concurrent OS processes (barrier-started,
fork; no GIL interaction — the same isolation Spark's Python workers
have):

* ``triad`` — STREAM-style ``a[:] = b + 0.42*c`` over 3x64 MiB float64
  arrays (far beyond LLC): pure memory-bandwidth demand, ~24 B/element
  of DRAM traffic (write-allocate makes the true figure ~32 B; the
  conventional 24 is reported, constant across P so ratios are exact).
* ``compute`` — the same splitmix64 pass as the crawl's parse_work
  stand-in on an L2-resident 64 Ki-element buffer: register/ALU demand
  with negligible DRAM traffic.

Each level reports the median of its REPEATS walls and every wall. The
block lands in ``BENCH/scaling.json`` as ``host_probe``.

Usage:
    python tools/host_probe.py            # measure + merge into scaling.json
    HOST_PROBE_REPEATS=3 python tools/host_probe.py
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time
from statistics import median

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_scaling import host_pair, merge_scaling  # noqa: E402

REPEATS = int(os.environ.get("HOST_PROBE_REPEATS", "3"))

# triad: 3 arrays x 64 MiB each per worker, >>LLC per worker
TRIAD_ELEMS = 8 * 1024 * 1024  # 64 MiB of float64
TRIAD_PASSES = 40
TRIAD_BYTES_PER_ELEM = 24  # read b + read c + write a (STREAM convention)

COMPUTE_ELEMS = 64 * 1024  # 512 KiB of uint64: L2-resident
COMPUTE_ITERS = 3000


def _triad_worker(barrier, out, idx):
    b = np.random.default_rng(idx).random(TRIAD_ELEMS)
    c = np.random.default_rng(idx + 1000).random(TRIAD_ELEMS)
    a = np.empty_like(b)
    # touch everything once so page faults don't land inside the timed region
    np.multiply(c, 0.42, out=a)
    barrier.wait()
    t0 = time.perf_counter()
    for _ in range(TRIAD_PASSES):
        np.multiply(c, 0.42, out=a)
        a += b
    out[idx] = time.perf_counter() - t0


def _compute_worker(barrier, out, idx):
    x = np.arange(COMPUTE_ELEMS, dtype=np.uint64) + np.uint64(idx)
    t = np.empty_like(x)
    barrier.wait()
    t0 = time.perf_counter()
    with np.errstate(over="ignore"):
        for _ in range(COMPUTE_ITERS):
            x += np.uint64(0x9E3779B97F4A7C15)
            np.right_shift(x, np.uint64(30), out=t)
            x ^= t
            x *= np.uint64(0xBF58476D1CE4E5B9)
            np.right_shift(x, np.uint64(27), out=t)
            x ^= t
    out[idx] = time.perf_counter() - t0


def _run_level(target, nproc: int) -> float:
    """Barrier-start nproc workers; return the phase wall (max worker wall)."""
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(nproc)
    out = ctx.Array("d", nproc)
    procs = [ctx.Process(target=target, args=(barrier, out, i)) for i in range(nproc)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    if any(p.exitcode != 0 for p in procs):
        raise SystemExit(f"probe worker failed at P={nproc}")
    return max(out[:])


def measure() -> dict:
    levels = {}
    for nproc in host_pair():
        triad_walls, compute_walls = [], []
        for _ in range(REPEATS):
            triad_walls.append(_run_level(_triad_worker, nproc))
            compute_walls.append(_run_level(_compute_worker, nproc))
        tw, cw = median(triad_walls), median(compute_walls)
        levels[nproc] = {
            "procs": nproc,
            "triad_agg_gbps": round(
                nproc * TRIAD_PASSES * TRIAD_ELEMS * TRIAD_BYTES_PER_ELEM / tw / 1e9, 2
            ),
            "compute_agg_mops": round(
                nproc * COMPUTE_ITERS * COMPUTE_ELEMS / cw / 1e6, 1
            ),
            "triad_walls": [round(w, 3) for w in triad_walls],
            "compute_walls": [round(w, 3) for w in compute_walls],
        }
        print(json.dumps(levels[nproc]), flush=True)

    (a, la), (b, lb) = levels.items()
    pair = f"{a}->{b}"
    return {
        "levels": {str(n): lv for n, lv in levels.items()},
        "triad_efficiency": {pair: round(lb["triad_agg_gbps"] / la["triad_agg_gbps"] / (b / a), 3)},
        "compute_efficiency": {
            pair: round(lb["compute_agg_mops"] / la["compute_agg_mops"] / (b / a), 3)
        },
        "triad_bytes_per_elem": TRIAD_BYTES_PER_ELEM,
        "note": (
            "Engine-free host characterization: aggregate STREAM-triad "
            "bandwidth (3x64MiB/worker, beyond LLC) and splitmix64 ALU "
            "throughput (L2-resident) in barrier-started processes at the "
            f"crawl's N and 4N; median of {REPEATS} walls per level, all "
            "walls listed. These are the host's own ceilings for "
            "memory-streaming and compute-bound stages at that pair."
        ),
    }


def main() -> None:
    summary = measure()
    merge_scaling({"host_probe": summary})
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
