"""Empirical cuckoo-tier crossover probe (round-5; closes the r4 verdict's
"crossover estimate" residual with measured data instead of argument).

The tier's payoff claim: when the seen set OUTGROWS the broadcast bloom's
bit budget, the bloom's false-positive rate rises and every FP pays the
exact-confirm anti-join shuffle against the (huge) seen table; the cuckoo
tier re-probes bloom positives at ~1e-4 FP and removes almost all of that
confirm traffic. All prior measurements ran all-unseen frontiers against
well-sized blooms, where the tier is pure overhead — this tool measures
the OTHER regime directly:

- the bloom is pinned at a FIXED 2^25 bits (4 MiB broadcast — the "bit
  budget you can afford to broadcast" at scale), while the seen set
  sweeps 2M -> 8M -> 16M keys, driving the measured bloom FP rate from
  ~0.1% to ~65%;
- the frontier is 2M URLs with 20% true duplicates (revisit/duplicate
  pressure — dup rows hit the confirm join under EVERY configuration;
  only the FP traffic is tier-avoidable);
- both arms run the engine's own ``seen.filter_unseen`` (the probe and
  confirm ``plans/round.py`` executes, without the round's cache of the
  probed frame), interleaved off/on, REPEATS per arm,
  all walls recorded, result counts asserted EQUAL across arms (the
  FN-free contract);
- structures are built with the engine's own distributed builders
  (``build_bloom_distributed``, ``build_cuckoo_increment``); the cuckoo
  build wall is recorded too — it is the tier's per-round maintenance
  cost (paid on the delta in a real crawl, on the full set here,
  disclosed as the upper bound).

Results merge into BENCH/scaling.json as ``cuckoo_pressure_check``,
and BENCH/BASELINE.md is rendered again from the merged record.

Protocol note: arms run interleaved inside one Spark session (the
measured stage is a single count job over broadcast-resident structures;
the subprocess isolation the flagship crawl bench needs is for
cross-QUERY session contamination, which a two-arm microbench alternating
A/B/A/B already averages out — all walls disclosed).

Usage:
    python tools/cuckoo_pressure.py    # writes into BENCH/scaling.json
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time
from statistics import median

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench_scaling import host_pair, merge_scaling  # noqa: E402
from swmaestro_crawler_spark.operators.cuckoo import CUCKOO_PARTS  # noqa: E402

SIZES = tuple(
    int(x)
    for x in os.environ.get(
        "CUCKOO_PRESSURE_SIZES", "2000000,8000000,16000000"
    ).split(",")
)
FRONTIER = int(os.environ.get("CUCKOO_PRESSURE_FRONTIER", 2_000_000))
DUP_FRAC = 0.2
BLOOM_BITS = 1 << 25
BLOOM_K = 5
CUCKOO_SLOTS = 4
REPEATS = int(os.environ.get("CUCKOO_PRESSURE_REPEATS", 3))


def _hash_expr(col):
    from pyspark.sql import functions as F

    return F.xxhash64(F.col(col).cast("string"))


def main() -> None:
    from pyspark.sql import functions as F

    from swmaestro_crawler_spark.config import spark_builder
    from swmaestro_crawler_spark.operators.cuckoo import (
        PartitionedCuckoo,
        build_cuckoo_increment,
    )
    from swmaestro_crawler_spark.operators.seen import (
        bloom_probe,
        build_bloom_distributed,
        filter_unseen,
    )

    spark = spark_builder(
        "cuckoo_pressure", master=f"local[{host_pair()[1]}]", shuffle_partitions=32
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.TemporaryDirectory(prefix="cuckoo_pressure-")

    rows = []
    for n_seen in SIZES:
        seen_path = os.path.join(tmp.name, f"seen_{n_seen}")
        (
            spark.range(n_seen)
            .select(
                _hash_expr("id").alias("url_hash"),
                F.hash(F.col("id").cast("string")).alias("fingerprint"),
                F.pmod(_hash_expr("id"), F.lit(64)).cast("int").alias("bucket"),
                F.lit(0).cast("int").alias("round_seen"),
            )
            .write.parquet(seen_path)
        )
        seen = spark.read.parquet(seen_path)

        t0 = time.perf_counter()
        bitmap = build_bloom_distributed(seen, BLOOM_BITS, BLOOM_K)
        bloom_build_s = round(time.perf_counter() - t0, 2)
        bitmap_bc = spark.sparkContext.broadcast(bitmap.tobytes())

        # cuckoo sized for the seen count with ~2x headroom (next pow2)
        buckets = 1 << max(
            8, math.ceil(math.log2(n_seen * 1.25 / (CUCKOO_PARTS * CUCKOO_SLOTS)))
        )
        t0 = time.perf_counter()
        ck = build_cuckoo_increment(
            seen, PartitionedCuckoo.empty(CUCKOO_PARTS, buckets, CUCKOO_SLOTS)
        )
        cuckoo_build_s = round(time.perf_counter() - t0, 2)
        cuckoo_bc = spark.sparkContext.broadcast(ck.tables)

        # frontier: 20% true duplicates (stride-sampled from seen ids),
        # 80% fresh ids disjoint from the seen range
        n_dup = int(FRONTIER * DUP_FRAC)
        dup = spark.range(n_dup).select(
            ((F.col("id") * 40503 + 7) % n_seen).alias("id")
        )
        new = spark.range(n_seen, n_seen + FRONTIER - n_dup).select("id")
        frontier = (
            dup.unionByName(new)
            .select(_hash_expr("id").alias("url_hash"))
            .repartition(32)
            .persist()
        )
        n_frontier = frontier.count()

        # diagnostics (untimed): per-tier confirm-join input sizes
        bloom_pos = bloom_probe(frontier, bitmap_bc, BLOOM_K).filter("maybe_seen").count()
        cuckoo_pos = (
            bloom_probe(frontier, bitmap_bc, BLOOM_K, cuckoo_bc=cuckoo_bc)
            .filter("maybe_seen")
            .count()
        )
        fp_rate = round((bloom_pos - n_dup) / (n_frontier - n_dup), 4)

        walls = {"off": [], "on": []}
        counts = set()
        for _ in range(REPEATS):
            for arm, cbc in (("off", None), ("on", cuckoo_bc)):
                t0 = time.perf_counter()
                c = filter_unseen(frontier, seen, bitmap_bc, BLOOM_K, cbc).count()
                walls[arm].append(round(time.perf_counter() - t0, 3))
                counts.add(c)
        assert len(counts) == 1, f"arms disagree: {counts} (FN-free violated)"
        frontier.unpersist()
        rec = {
            "n_seen": n_seen,
            "n_frontier": n_frontier,
            "dup_frac": DUP_FRAC,
            "bloom_bits": BLOOM_BITS,
            "bloom_fp_rate": fp_rate,
            "confirm_rows_off": bloom_pos,
            "confirm_rows_on": cuckoo_pos,
            "wall_off_s": median(walls["off"]),
            "wall_on_s": median(walls["on"]),
            "all_walls": walls,
            "bloom_build_s": bloom_build_s,
            "cuckoo_build_s": cuckoo_build_s,
            "unseen_count": counts.pop(),
        }
        print(json.dumps(rec), flush=True)
        rows.append(rec)

    summary = {
        "protocol": (
            f"fixed {BLOOM_BITS}-bit bloom, frontier {FRONTIER} rows with "
            f"{DUP_FRAC:.0%} true duplicates, seen set swept over SIZES; "
            f"filter_unseen off/on interleaved x{REPEATS}, median walls; "
            "result counts asserted equal across arms"
        ),
        "rows": rows,
    }
    tmp.cleanup()
    merge_scaling({"cuckoo_pressure_check": summary})
    print("merged into BENCH/scaling.json cuckoo_pressure_check")


if __name__ == "__main__":
    main()
