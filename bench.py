"""Benchmark harness (driver contract).

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default:
the sf0.1 test tables) on ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs this process may run on), plus the flagship crawl, and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a noop-format write so the full plan executes
without driver-side collect; its time is the median of
``$SPARK_GRAFT_BENCH_REPEATS`` (default 3) runs.

The flagship crawl is crawlbench's ``crawl_3round`` at seed 42 (3 rounds
over the deterministic synthetic web; each run checks the logical digests
of crawl_order, seen, spans and dead against the recorded ones), run
three times, each in a fresh process, through ``tools/ab.py``'s
``run_once``. Each run also writes
``.crawlbench/out/crawl_3round-seed42-trace0.json``. A failed run exits
non-zero before the queries. ``queries["crawl_3round"]`` is the median of
the three walls; the ``crawl`` key carries every wall and the medians of
crawlbench's ``urls_per_s``, ``fetched_per_s``, ``setup_s`` and
``peak_rss_mb``.

Scaling evidence (``local[N]`` vs ``local[4N]``, N a quarter of the
host's CPUs) is produced by ``tools/bench_scaling.py`` →
``BENCH/scaling.json`` and ``BENCH/BASELINE.md``; the ``scaling`` key
carries its efficiency.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import re
import sys
import time
from statistics import median

import pandas as pd  # noqa: F401  (resolves PEP 563 hints in the warmup UDF)

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

CRAWL_RUNS = 3
CRAWL_SEED = 42


def _load(name: str, path: str):
    """The module at ``path`` (a script, not a package module)."""
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _load("ab", os.path.join(REPO, "tools", "ab.py"))


def cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


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
    from swmaestro_crawler_spark.operators import kmeans as _km
    from swmaestro_crawler_spark.operators import pq as _pq

    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()  # java.util.Map
    for jrdd in list(jmap.values()):
        jrdd.unpersist()
    _km._FIT_CACHE.clear()
    _pq._PQ_CACHE.clear()  # PQ codebook memo: repeats must refit


def run_queries(spark, sf_dir: str, repeats: int) -> tuple[dict[str, float], dict[str, list[float]]]:
    import __spark_entry__ as entrymod

    # warm the JVM (codegen/JIT) and the table scans once so the first
    # measured query isn't charged for session startup
    from swmaestro_crawler_spark.sources.testdata import TABLES, load

    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TABLES:
        _force(load(spark, sf_dir, t).limit(1))
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
    medians = {name: round(median(ws), 3) for name, ws in walls.items()}
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


def run_crawl() -> dict:
    """The flagship crawl: ``CRAWL_RUNS`` fresh-process runs of crawlbench's
    ``crawl_3round`` at ``CRAWL_SEED`` in this checkout. Their echo goes
    to stderr (stdout carries only the result line); exits non-zero if a
    run or its digest check failed."""
    with contextlib.redirect_stdout(sys.stderr):
        runs = [ab.run_once(REPO, CRAWL_SEED, "crawl_3round", 0) for _ in range(CRAWL_RUNS)]
    if None in runs:
        raise SystemExit(f"crawl_3round failed in {runs.count(None)} of {CRAWL_RUNS} runs")
    walls = [round(r["wall_s"], 3) for r in runs]
    return {
        "wall_s": median(walls),
        "all_walls": walls,
        **{
            k: round(median(r[k] for r in runs), 3)
            for k in ("urls_per_s", "fetched_per_s", "setup_s", "peak_rss_mb")
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_cpus = cpus()
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # the crawl runs FIRST, in FRESH processes (own JVM), BEFORE this
    # parent process starts any JVM: round 3 proved the shared query
    # session degrades position-dependently, and round 4 additionally
    # measured that even a STOPPED parent session (its JVM keeps the
    # post-240-measurement heap resident) doubles the crawl's walls
    # (61-163 s in-bench vs 33-39 s on a bare host with the identical
    # crawl). Median of 3: at this tiny (30k-URL) scale the wall is
    # dominated by fixed per-round/job latency and swings run-to-run
    # (all walls recorded; scale-representative numbers are the 1M-URL
    # round in BENCH/BASELINE.md)
    crawl = run_crawl()

    from swmaestro_crawler_spark.config import spark_builder

    spark = spark_builder("bench", master=f"local[{n_cpus}]", shuffle_partitions=32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    queries, query_walls = run_queries(spark, sf_dir, repeats)
    spark.stop()
    queries["crawl_3round"] = crawl["wall_s"]

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
        "cpus": n_cpus,
        "crawl": crawl,
        "oracle_queries": oracle,
        "spark_vs_duckdb": ratios,
        "spark_vs_duckdb_median": rs[len(rs) // 2] if rs else None,
        "host_calibration": _load(
            "crawlbench_run", os.path.join(REPO, "crawlbench", "run.py")
        ).host_calibration(),
    }
    bench_dir = os.path.join(REPO, "BENCH")
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
    ]
    qsec = sorted(queries.values())
    line = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: queries[k] for k in headline_queries if k in queries},
        "n_queries": len(queries),
        "suite_median_s": round(median(qsec), 3),
        "suite_p90_s": qsec[int(len(qsec) * 0.9)],
        "repeats": repeats,
        "sf": sf,
        "cpus": n_cpus,
        "crawl": crawl,
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
    main()
