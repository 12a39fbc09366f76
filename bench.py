"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default 32),
plus the flagship crawl pipeline (3 rounds over the deterministic
synthetic web), and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys: ``crawl`` (URLs fetched+deduped/sec and per-core rate — the
BASELINE.json headline metric) and ``cpus``. Each query is forced with a
noop-format write so the full plan executes without driver-side collect.

Scaling evidence (``local[N]`` vs ``local[4N]``, N a quarter of the
host's CPUs) is produced by ``tools/bench_scaling.py`` →
``BENCH/scaling.json`` and ``BENCH/BASELINE.md``; the ``scaling`` key
carries its efficiency.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

import pandas as pd  # noqa: F401  (resolves PEP 563 hints in the warmup UDF)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _reset_session_state(spark) -> None:
    """Between-measurement isolation (VERDICT r3 item 1b): round 3 proved
    that one shared session degrades position-dependently (18 late-suite
    queries read 2-10x slower on identical code+data while early-suite
    queries stayed flat). Evict everything a query may have left behind:

    - the SQL cache manager (``df.persist`` registrations),
    - RDD-level persists (``localCheckpoint`` leaves materialized RDDs
      that ``clearCache`` does not see),
    - the kmeans incremental fit memo (repeats must refit, not replay).
    """
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()  # java.util.Map
    for jrdd in list(jmap.values()):
        try:
            jrdd.unpersist()
        except Exception:
            pass
    try:
        from swmaestro_crawler_spark.operators import kmeans as _km

        _km._FIT_CACHE.clear()
    except Exception:
        pass
    try:
        from swmaestro_crawler_spark.operators import pq as _pq

        _pq._PQ_CACHE.clear()  # PQ codebook memo: repeats must refit
    except Exception:
        pass


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    mid = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    return round(mid, 3)


def run_queries(spark, sf_dir: str, repeats: int) -> tuple[dict[str, float], dict[str, list[float]]]:
    import __spark_entry__ as entrymod

    # warm the JVM (codegen/JIT) and the table scans once so the first
    # measured query isn't charged for session startup
    from swmaestro_crawler_spark.sources.testdata import TABLES, load

    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TABLES:
        try:
            _force(load(spark, sf_dir, t).limit(1))
        except Exception:
            pass
    qs = entrymod.queries()
    # one full UNMEASURED query completes whole-stage-codegen/JIT warmup
    # (a limit(1) scan does not); without it the first measured query is
    # charged ~2s of one-time compilation (disclosed steady-state bench)
    first = next(iter(qs.values()), None)
    if first is not None:
        _force(first(spark, sf_dir))
    # spin up the Python UDF workers once (spark.python.worker.reuse keeps
    # them alive) so the first Arrow-UDF query isn't charged ~5s of
    # one-time worker-pool launch. NB: under PEP 563 the hint strings
    # resolve against the function's module globals, so pandas must be
    # imported at module level (a local import here breaks pandas_udf).
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(x: pd.Series) -> pd.Series:
        return x

    _force(spark.range(0, 10_000, 1, 32).select(_noop("id")))

    # isolated per-query measurement (VERDICT r3 item 1b): N repeats,
    # session state reset before every run, report the MEDIAN; all walls
    # are recorded (BENCH/bench.json "queries_walls") so variance is
    # visible round-over-round.
    walls: dict[str, list[float]] = {name: [] for name in qs}
    for _rep in range(repeats):
        for name, fn in qs.items():
            _reset_session_state(spark)
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            walls[name].append(round(time.perf_counter() - t0, 3))
    medians = {name: _median(ws) for name, ws in walls.items()}
    return medians, walls


def run_oracles(sf_dir: str) -> dict[str, float]:
    """Wall-time every DuckDB oracle on the same parquet tables (VERDICT
    r2 item 6): BASELINE.md has no external numbers, so the oracle's own
    single-node seconds are the per-query baseline the artifact records —
    bench.json gains a spark_vs_duckdb ratio column."""
    import duckdb

    import __spark_entry__ as entrymod
    from swmaestro_crawler_spark.sources.testdata import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out: dict[str, float] = {}
    for name, sql in entrymod.oracle_sql().items():
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def run_crawl(spark, *, seeds: int = 2000, rounds: int = 3, cuckoo: bool = False) -> dict:
    """Flagship crawl at bench scale; returns throughput facts.

    "URLs fetched+deduped/sec" counts every URL the round pipeline
    disposed of: fetched ok, failed (retry-scheduled), robots-excluded,
    and bloom/anti-join deduplicated frontier candidates.

    ``cuckoo=True`` turns the seen stack's cuckoo tier on (bloom ->
    cuckoo -> exact anti-join) for the on-vs-off comparison recorded as
    ``crawl_cuckoo`` — digests must be identical (FN-free tiers)."""
    from swmaestro_crawler_spark.config import CrawlConfig
    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    wh = tempfile.mkdtemp(prefix="bench_crawl_")
    cfg = CrawlConfig(
        round_seconds=120.0,
        max_rounds=rounds,
        max_depth=4,
        per_host_cap=2000,
        frontier_partitions=32,
        seen_buckets=64,
        bloom_bits=1 << 24,
        synth_n_hosts=500,
        warehouse=wh,
        cuckoo_buckets=(1 << 12) if cuckoo else None,
    )
    try:
        crawl = Crawl(spark, cfg)
        t0 = time.perf_counter()
        results = crawl.run(spark.createDataFrame(make_seeds(cfg, seeds)), rounds=rounds)
        wall = time.perf_counter() - t0
        fetched = sum(r.fetched_ok for r in results)
        processed = sum(
            r.admitted + r.excluded + r.deferred for r in results
        )  # every URL the scheduler disposed of this round
        return {
            "wall_s": round(wall, 3),
            "rounds": len(results),
            "fetched_ok": fetched,
            "processed": processed,
            "urls_per_sec": round(processed / wall, 1),
            "fetched_per_sec": round(fetched / wall, 1),
            "digests": {
                t: crawl.cat.content_digest(t) for t in ("crawl_order", "seen")
            },
            # layout-invariant VALUE digests — the round-over-round
            # comparable ones (content digests shift when a writer
            # change reshapes file boundaries, e.g. the r4 executor-
            # direct scratch writer; sorted-row data was identical)
            "logical_digests": {
                t: crawl.cat.logical_digest(t) for t in ("crawl_order", "seen")
            },
        }
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def crawl_worker(cuckoo: bool) -> None:
    """One flagship crawl in THIS process (spawned fresh by main() — own
    JVM, tmpfs scratch). Round 3 proved the shared bench session degrades
    position-dependently, and the crawl ran last, after 79 queries: its
    recorded wall hit 76-170 s while the same job in a fresh process runs
    ~35-80 s (historical record BENCH/crawl_ab.json). Isolation protocol
    matches tools/bench_scaling.py."""
    from swmaestro_crawler_spark.config import spark_builder

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shm = tempfile.mkdtemp(prefix="bench-crawl-", dir="/dev/shm")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(shm, "local")
    spark = (
        spark_builder("bench-crawl", master=f"local[{cpus}]", shuffle_partitions=32)
        .config("spark.local.dir", os.path.join(shm, "local"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    c = run_crawl(spark, cuckoo=cuckoo)
    c["measured_wall_s"] = round(time.perf_counter() - t0, 3)
    print("CRAWL_RESULT " + json.dumps(c), flush=True)
    spark.stop()
    shutil.rmtree(shm, ignore_errors=True)


def _crawl_subprocess(cuckoo: bool = False) -> dict:
    import subprocess

    argv = [sys.executable, os.path.abspath(__file__), "--crawl-worker"]
    if cuckoo:
        argv.append("cuckoo")
    p = subprocess.run(
        argv, capture_output=True, text=True, cwd=os.path.dirname(os.path.abspath(__file__))
    )
    line = next((ln for ln in p.stdout.splitlines() if ln.startswith("CRAWL_RESULT ")), None)
    if line is None:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit("bench crawl worker failed")
    return json.loads(line[len("CRAWL_RESULT "):])


def host_calibration() -> dict:
    """``crawlbench/run.py``'s host calibration (loaded by path), recorded
    so bench diffs across hosts can be normalized for host speed."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "crawlbench_run",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "crawlbench", "run.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.host_calibration()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # crawl measurements run FIRST, in FRESH subprocesses (own JVM +
    # tmpfs scratch), BEFORE this parent process starts any JVM: round 3
    # proved the shared query session degrades position-dependently, and
    # round 4 additionally measured that even a STOPPED parent session
    # (its JVM keeps the post-240-measurement heap resident) doubles the
    # crawl workers' walls (61-163 s in-bench vs 33-39 s on a bare host
    # with the identical worker). best-of-3: at this tiny (30k-URL)
    # scale the wall is dominated by fixed per-round/job latency and
    # swings ±40% run-to-run on this host (all walls recorded;
    # scale-representative numbers are the 1M/10M rounds in
    # BENCH/BASELINE.md)
    # BOTH arms best-of-3 in fresh subprocesses, interleaved off/on so
    # host drift hits both equally (VERDICT r4 #3: the r4 headline ran
    # the cuckoo arm as a single sample under a weaker protocol and
    # disagreed with BENCH/cuckoo_ab.json by +27 s; protocol now
    # identical for both arms)
    runs, ck_runs = [], []
    for _ in range(3):
        runs.append(_crawl_subprocess())
        ck_runs.append(_crawl_subprocess(cuckoo=True))
    crawl = min(runs, key=lambda c: c["measured_wall_s"])
    crawl["all_walls"] = [c["measured_wall_s"] for c in runs]
    ck = min(ck_runs, key=lambda c: c["measured_wall_s"])
    # digests MUST equal the tier-off run on EVERY repeat (every seen
    # tier is FN-free) — asserted, not assumed
    for c in ck_runs:
        assert c["digests"] == crawl["digests"], "cuckoo tier changed crawl output!"
        assert c.get("logical_digests") == crawl.get("logical_digests")
    crawl["cuckoo_wall_s"] = ck["measured_wall_s"]
    crawl["cuckoo_all_walls"] = [c["measured_wall_s"] for c in ck_runs]
    crawl["cuckoo_digests_match"] = True

    from swmaestro_crawler_spark.config import spark_builder

    spark = spark_builder("bench", master=f"local[{cpus}]", shuffle_partitions=32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    queries, query_walls = run_queries(spark, sf_dir, repeats)
    spark.stop()
    queries["crawl_3round"] = crawl["measured_wall_s"]
    queries["crawl_3round_cuckoo"] = ck["measured_wall_s"]

    oracle = run_oracles(sf_dir)
    ratios = {
        n: round(queries[n] / oracle[n], 2) for n in queries if oracle.get(n)
    }
    rs = sorted(ratios.values())

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "queries_walls": query_walls,
        "repeats": repeats,
        "sf": sf,
        "cpus": cpus,
        "crawl": crawl,
        "oracle_queries": oracle,
        "spark_vs_duckdb": ratios,
        "spark_vs_duckdb_median": rs[len(rs) // 2] if rs else None,
        "host_calibration": host_calibration(),
    }
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    scaling_path = os.path.join(bench_dir, "scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            out["scaling"] = json.load(f)  # produced by tools/bench_scaling.py
    # persist the full result for round-over-round diffs; the stdout line
    # itself MUST stay short — the driver retains only a ~2,000-char tail
    # and round 3's official bench record was lost to truncation
    # (BENCH_r03.json "parsed": null). Per-query detail lives ONLY in
    # BENCH/bench.json; stdout carries the headline aggregates plus a
    # small fixed set of representative query walls.
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "bench.json"), "w") as f:
        json.dump(out, f, indent=1)

    headline_queries = [
        "pricing_summary_agg",
        "revenue_per_nation_join",
        "dedup_minhash_lsh_pairs",
        "kmeans_centroids",
        "ann_ivf_topk",
        "corpus_shard_pack",
        "html_field_extract",
        "streaming_stream_join",
        "pagerank_purchase_graph",
        "crawl_3round",
        "crawl_3round_cuckoo",
    ]
    qsec = sorted(queries.values())
    crawl_line = {
        k: crawl.get(k)
        for k in ("wall_s", "processed", "fetched_ok", "urls_per_sec", "cuckoo_digests_match")
    }
    crawl_line["digests12"] = {
        k: v[:12] for k, v in crawl.get("digests", {}).items()
    }
    # layout-invariant value digests — compare THESE across rounds
    crawl_line["ldigests"] = crawl.get("logical_digests")
    line = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: queries[k] for k in headline_queries if k in queries},
        "n_queries": len(queries),
        "suite_median_s": _median(qsec),
        "suite_p90_s": qsec[int(len(qsec) * 0.9)] if qsec else None,
        "repeats": repeats,
        "sf": sf,
        "cpus": cpus,
        "crawl": crawl_line,
        "spark_vs_duckdb_median": out["spark_vs_duckdb_median"],
        "host_calibration": out["host_calibration"],
        "queries_detail": "BENCH/bench.json",
    }
    if "scaling" in out:
        line["scaling"] = {
            k: out["scaling"].get(k)
            for k in ("scaling_efficiency", "efficiencies", "passes")
        }
    payload = json.dumps(line)
    # guard the driver-parsability fix permanently (VERDICT r3 item 8)
    assert len(payload) < 1800, f"stdout bench line too long: {len(payload)}"
    print(payload)


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--crawl-worker":
        crawl_worker(cuckoo="cuckoo" in sys.argv[2:])
    else:
        main()
