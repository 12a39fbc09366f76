"""N vs 4N scaling-efficiency benchmark (BASELINE.json criterion).

The rule: ≥0.8 throughput scaling efficiency from N to 4N executors, with
crawl order and the URL-seen set identical at both sizes. No real cluster
exists here, so one box stands in for it: the same job runs at
``local[N]`` and ``local[4N]`` (``host_pair``: N is a quarter of the CPUs
this process may run on) over the SAME input, one steady-state crawl
round over a bulk synthetic frontier generated entirely JVM-side
(codegen expressions, no Python), politeness + bloom + fetch + span
extraction all live.

Each run is a fresh process (own JVM, cold state). The worker prints one
JSON line: its wall, the URLs processed, the round's stage walls
(``RoundResult.timings``) and ``Catalog.logical_digest`` of the
crawl_order and seen tables. The parent runs REPEATS runs per level,
reports each level's median and every wall, asserts the digests equal
across every run, and writes ``BENCH/scaling.json`` (``bench.py`` embeds
its efficiency in its output line) and ``BENCH/BASELINE.md``.

Usage:
    python tools/bench_scaling.py                  # N then 4N, then report
    python tools/bench_scaling.py --worker CORES   # one run (internal)
    python tools/bench_scaling.py --revisit-check  # post-round checks at N and 4N
    python tools/bench_scaling.py --media-check
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import shutil
import subprocess
import sys
import time
from statistics import median

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_URLS = int(os.environ.get("SCALING_URLS", 1_000_000))
# CPU stand-in for real fetch+parse cost (~3.4us/URL per 1000 iters;
# 100k ~= 340us/URL, conservative vs parsing a real ~100KB watch page).
# 0 = raw synthetic transport.
WORK_ITERS = int(os.environ.get("SCALING_WORK_ITERS", 100_000))
N_HOSTS = 5000
REPEATS = int(os.environ.get("SCALING_REPEATS", 2))
SCALING_JSON = os.path.join(REPO, "BENCH", "scaling.json")
BASELINE_MD = os.path.join(REPO, "BENCH", "BASELINE.md")
# the keys of the primary record; every other key of scaling.json is a
# block another check or tool wrote
PRIMARY = (
    "n_urls",
    "work_iters",
    "repeats",
    "levels",
    "all_walls",
    "scaling_efficiency",
    "efficiencies",
    "stage_efficiencies",
    "crawl_order_match",
    "seen_match",
    "passes",
    "host_calibration",
)


def host_pair() -> tuple[int, int]:
    """(N, 4N) cores for this host, N a quarter of the CPUs this process
    may run on; exits on a host with fewer than 4."""
    n = len(os.sched_getaffinity(0)) // 4
    if n < 1:
        raise SystemExit("an N -> 4N pair needs at least 4 CPUs on this host")
    return n, 4 * n


def host_calibration() -> dict:
    """``crawlbench/run.py``'s host calibration (loaded by path)."""
    spec = importlib.util.spec_from_file_location(
        "crawlbench_run", os.path.join(REPO, "crawlbench", "run.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.host_calibration()


def synth_frontier(spark, n_urls: int, n_hosts: int, parts: int):
    """Bulk frontier, pure codegen (no Python on any row): log-uniform
    host skew (~zipf s=1 — one hot domain, the axis-B stressor), URLs
    already in canonical form so url_hash = xxhash64(url) directly."""
    from pyspark.sql import functions as F

    df = spark.range(0, n_urls, 1, parts)
    u = (F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(1 << 48)).cast("double") + 0.5) / float(
        1 << 48
    )
    hidx = F.least(
        F.lit(n_hosts - 1),
        (F.floor(F.exp(u * math.log(n_hosts))) - 1).cast("long"),
    ).cast("int")
    host = F.concat_ws(
        "", F.lit("host"), F.lpad(hidx.cast("string"), 4, "0"), F.lit(".example.com")
    )
    url = F.concat_ws(
        "", F.lit("http://"), host, F.lit("/p/"), F.lower(F.lpad(F.hex(F.col("id")), 12, "0"))
    )
    return df.select(
        url.alias("url"),
        F.xxhash64(url).alias("url_hash"),
        host.alias("host"),
        F.lit(1).cast("int").alias("depth"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(100_000)).alias("seq"),
        F.lit(0).cast("int").alias("round"),
        F.lit(0).cast("int").alias("attempt"),
        F.lit(None).cast("string").alias("parent"),
    )


def start_crawl(cores: int, wh: str, scratch: str):
    """Spark at ``local[cores]`` with its shuffle scratch in ``scratch``,
    and a ``Crawl`` of the scaling config over warehouse ``wh``: one round
    over the whole frontier, admission bounded by the frontier, not the
    budget. Returns (spark, crawl)."""
    from swmaestro_crawler_spark.config import CrawlConfig, spark_builder
    from swmaestro_crawler_spark.plans.crawl import Crawl

    os.environ["SPARK_LOCAL_DIRS"] = scratch
    spark = (
        spark_builder(f"scaling-{cores}", master=f"local[{cores}]", shuffle_partitions=32)
        .config("spark.local.dir", scratch)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = CrawlConfig(
        round_seconds=1e6,
        per_host_cap=10_000_000,
        max_rounds=1,
        max_depth=1,                # no expansion: one steady-state round
        frontier_partitions=32,
        seen_buckets=64,
        bloom_bits=1 << 26,         # sized for n=4e6 @ k=5 -> ~2% fp
        synth_n_hosts=N_HOSTS,
        synth_work_iters=WORK_ITERS,
        warehouse=wh,
    )
    return spark, Crawl(spark, cfg)


def revisit(spark, crawl) -> dict:
    """One conditional revisit sweep over the full span history
    (everything due at round 1000)."""
    from swmaestro_crawler_spark.plans.revisit import run_revisit

    cat = crawl.cat
    spans_before = cat.logical_digest("spans")
    t0 = time.perf_counter()
    res = run_revisit(spark, cat, crawl.cfg, now_round=1000, conditional=True)
    return {
        "wall_s": round(time.perf_counter() - t0, 3),
        "stages": res.get("timings", {}),
        "refetched_ok": res["refetched_ok"],
        "modified": res["modified"],
        "not_modified": res["not_modified"],
        "observations_digest": cat.logical_digest("observations"),
        "spans_digest_unchanged": cat.logical_digest("spans") == spans_before,
    }


def media(spark, crawl) -> dict:
    """``media_sweep`` over the span history, then a second sweep."""
    from swmaestro_crawler_spark.plans.media import media_sweep

    cat = crawl.cat
    t0 = time.perf_counter()
    ms = media_sweep(spark, cat)
    wall = time.perf_counter() - t0
    out = {
        "wall_s": round(wall, 3),
        "stages": ms.timings,
        "refs_seen": ms.refs_seen,
        "refs_new": ms.refs_new,
        "blobs_new": ms.blobs_new,
        "blob_bytes": ms.blobs_bytes,
        "refs_digest": cat.logical_digest("media_refs"),
        "blobs_digest": cat.logical_digest("media_blobs"),
    }
    second = media_sweep(spark, cat)
    out["second_sweep_noop"] = second.refs_new == 0 and second.blobs_new == 0
    return out


# Post-round checks at frontier scale: what the worker runs after the
# round, the digests that must agree across every run, and what every
# run must show.
CHECKS = {
    "revisit": dict(
        run=revisit,
        digests=("observations_digest",),
        holds=lambda b: b["modified"] == 0 and b["spans_digest_unchanged"],
        failure="revalidation stored spans on an unchanged web",
        note=(
            "After the crawl round, run_revisit conditional=True sweeps "
            "everything due. On the deterministic web every page "
            "revalidates unchanged: no span row is committed (spans "
            "logical digest equal before and after) and each refetched "
            "page adds one observation row."
        ),
    ),
    "media": dict(
        run=media,
        digests=("refs_digest", "blobs_digest"),
        holds=lambda b: b["second_sweep_noop"],
        failure="media re-sweep not idempotent",
        note=(
            "After the crawl round, media_sweep resolves every span "
            "media_ref into the content-addressed store (MEDIA_REFS "
            "mapping, one MEDIA_BLOBS row per content); a second sweep "
            "must resolve and store nothing."
        ),
    ),
}


def worker(cores: int, check: str | None = None) -> None:
    # shuffle dirs + warehouse on tmpfs: a real 4N-executor cluster has 4N
    # nodes' worth of disk bandwidth, this box has one disk
    shm = f"/dev/shm/scaling-{cores}"
    spark, crawl = start_crawl(cores, os.path.join(shm, "wh"), os.path.join(shm, "local"))
    crawl.bootstrap(frontier=synth_frontier(spark, N_URLS, N_HOSTS, 32))
    t0 = time.perf_counter()
    r = crawl.run(None, rounds=1)[0]
    rec = {
        "cores": cores,
        "wall_s": round(time.perf_counter() - t0, 3),
        "admitted": r.admitted,
        "fetched_ok": r.fetched_ok,
        "processed": r.admitted + r.excluded + r.deferred,
        "stages": r.timings or {},
        "crawl_order_digest": crawl.cat.logical_digest("crawl_order"),
        "seen_digest": crawl.cat.logical_digest("seen"),
    }
    if check:
        rec[check] = CHECKS[check]["run"](spark, crawl)
    print("WORKER_RESULT " + json.dumps(rec), flush=True)
    spark.stop()
    shutil.rmtree(shm, ignore_errors=True)


def run_worker(cores: int, i: int, check: str | None = None) -> dict:
    """Run ``i`` of REPEATS of ``--worker cores [check]`` in a fresh
    process; its WORKER_RESULT record."""
    label = check or "scaling"
    print(
        f"== {label} run local[{cores}] over {N_URLS:,} URLs (run {i + 1}/{REPEATS}) ==",
        flush=True,
    )
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", str(cores), *([check] if check else [])],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    line = next(
        (ln for ln in p.stdout.splitlines() if ln.startswith("WORKER_RESULT ")), None
    )
    if line is None:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"{label} worker local[{cores}] failed")
    res = json.loads(line[len("WORKER_RESULT "):])
    print(json.dumps(res), flush=True)
    return res


def summarize(runs: dict[int, list[dict]], digests: tuple[str, ...]) -> dict:
    """The N -> 4N summary of ``runs`` (cores -> run records with
    ``wall_s``, ``stages`` and the ``digests`` keys). Per level: the first
    run's record with its wall and stage walls replaced by their medians
    over the level's runs, and every wall. The efficiency of a wall (the
    work is the same at both levels) is (wall_N / wall_4N) / (4N / N),
    from those medians; ``digests_match`` says, per digest key, whether
    every run of both levels agrees."""
    a, b = sorted(runs)
    levels = {}
    for n, rs in runs.items():
        stages = {
            k: round(median(r["stages"].get(k, 0.0) for r in rs), 3) for k in rs[0]["stages"]
        }
        levels[n] = {**rs[0], "wall_s": round(median(r["wall_s"] for r in rs), 3), "stages": stages}

    def eff(wall_a: float, wall_b: float) -> float:
        return round(wall_a / wall_b / (b / a), 3)

    sa, sb = levels[a]["stages"], levels[b]["stages"]
    return {
        "levels": {str(n): lv for n, lv in levels.items()},
        "all_walls": {str(n): [r["wall_s"] for r in rs] for n, rs in runs.items()},
        "efficiencies": {f"{a}->{b}": eff(levels[a]["wall_s"], levels[b]["wall_s"])},
        "stage_efficiencies": {k: eff(sa[k], sb[k]) for k in sa if sb.get(k, 0) > 0.05},
        "digests_match": {
            k: len({r[k] for rs in runs.values() for r in rs}) == 1 for k in digests
        },
    }


def merge_scaling(blocks: dict) -> dict:
    """Write ``blocks`` into BENCH/scaling.json over its current record,
    render BENCH/BASELINE.md from the result; returns the record."""
    with open(SCALING_JSON) as f:
        record = {**json.load(f), **blocks}
    with open(SCALING_JSON, "w") as f:
        json.dump(record, f, indent=1)
    with open(BASELINE_MD, "w") as f:
        f.write(render(record))
    return record


def run_check(kind: str) -> dict:
    """The ``kind`` post-round check (CHECKS) at N and 4N cores, REPEATS
    runs each: every run must show its property and the digests must
    agree across every run. Merges a ``<kind>_check`` block into
    BENCH/scaling.json."""
    c = CHECKS[kind]
    runs = {n: [run_worker(n, i, kind)[kind] for i in range(REPEATS)] for n in host_pair()}
    for n, rs in runs.items():
        if not all(c["holds"](r) for r in rs):
            raise SystemExit(f"{c['failure']} at local[{n}]")
    block = {"n_urls": N_URLS, "repeats": REPEATS, **summarize(runs, c["digests"]), "note": c["note"]}
    merge_scaling({f"{kind}_check": block})
    print(json.dumps(block, indent=1))
    if not all(block["digests_match"].values()):
        raise SystemExit(f"{kind} digests differ across runs: {block['digests_match']}")
    return block


def scaling_summary(runs: dict[int, list[dict]], calibration: dict) -> dict:
    """The primary record of the crawl ``runs`` (cores -> worker records):
    ``summarize``'s, the one efficiency, whether the crawl_order and seen
    digests agree across every run, and ``passes``."""
    s = summarize(runs, ("crawl_order_digest", "seen_digest"))
    match = s.pop("digests_match")
    eff = next(iter(s["efficiencies"].values()))
    return {
        "n_urls": N_URLS,
        "work_iters": WORK_ITERS,
        "repeats": REPEATS,
        **s,
        "scaling_efficiency": eff,
        "crawl_order_match": match["crawl_order_digest"],
        "seen_match": match["seen_digest"],
        "passes": eff >= 0.8 and all(match.values()),
        "host_calibration": calibration,
    }


def main() -> None:
    calibration = host_calibration()
    runs = {n: [run_worker(n, i) for i in range(REPEATS)] for n in host_pair()}
    summary = scaling_summary(runs, calibration)
    merge_scaling(summary)
    print(json.dumps(summary))
    if not (summary["crawl_order_match"] and summary["seen_match"]):
        raise SystemExit("crawl digests differ across runs")


def _leaves(block: dict, prefix: str = ""):
    for k, v in block.items():
        if isinstance(v, dict) and v:
            yield from _leaves(v, f"{prefix}{k}.")
        else:
            yield f"{prefix}{k}", v


def render(rec: dict) -> str:
    """BENCH/BASELINE.md for the scaling.json record ``rec``: the primary
    N -> 4N record, then every other block as its key, its ``note`` or
    ``protocol`` text and its numbers."""
    (a, la), (b, lb) = sorted((int(n), lv) for n, lv in rec["levels"].items())
    eff = rec["scaling_efficiency"]
    stage_effs = rec["stage_efficiencies"]
    stages = [k for k in la["stages"] if max(la["stages"][k], lb["stages"].get(k, 0)) >= 0.05]
    out = [
        "# BENCH — N vs 4N scaling evidence",
        "",
        f"Written by `tools/bench_scaling.py` from `BENCH/scaling.json`. One "
        f"steady-state crawl round over the same {rec['n_urls']:,}-URL synthetic "
        f"frontier ({N_HOSTS:,} hosts, log-uniform skew; {rec['work_iters']:,} "
        f"splitmix64 passes per fetched URL stand in for page parsing) at "
        f"local[{a}] and local[{b}], {rec['repeats']} fresh-process runs each, "
        f"shuffle scratch and warehouse on tmpfs. One box stands in for N and "
        f"4N executors: the levels share its memory system and hypervisor. "
        f"Each level's wall and stage walls are the medians of its runs.",
        "",
        "| level | median wall s | all walls s | URLs processed | URLs/s |",
        "|---|---|---|---|---|",
        *(
            f"| local[{n}] | {lv['wall_s']} | {rec['all_walls'][str(n)]} "
            f"| {lv['processed']:,} | {lv['processed'] / lv['wall_s']:,.0f} |"
            for n, lv in ((a, la), (b, lb))
        ),
        "",
        f"Scaling efficiency (wall_{a} / wall_{b}) / {b // a}: **{eff}** "
        f"({'PASS' if eff >= 0.8 else 'below 0.8'}).",
        "",
        "Per stage (`RoundResult.timings`, stages of at least 0.05 s):",
        "",
        f"| stage | local[{a}] s | local[{b}] s | efficiency |",
        "|---|---|---|---|",
        *(
            f"| {k} | {la['stages'][k]} | {lb['stages'].get(k, '—')} | {stage_effs.get(k, '—')} |"
            for k in stages
        ),
        "",
        f"- crawl_order digest across every run: "
        f"{'MATCH' if rec['crawl_order_match'] else 'MISMATCH'} `{la['crawl_order_digest']}`",
        f"- URL-seen digest across every run: "
        f"{'MATCH' if rec['seen_match'] else 'MISMATCH'} `{la['seen_digest']}`",
        "- host calibration: "
        + ", ".join(f"{k} {v}" for k, v in rec["host_calibration"].items()),
    ]
    for key, block in rec.items():
        if key in PRIMARY:
            continue
        out += ["", f"## {key}", ""]
        text = block.get("note") or block.get("protocol")
        if text:
            out += [text, ""]
        out += [
            f"- `{k}`: {v}" for k, v in _leaves(block) if k not in ("note", "protocol")
        ]
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), *sys.argv[3:])
    elif len(sys.argv) > 1 and sys.argv[1] == "--revisit-check":
        run_check("revisit")
    elif len(sys.argv) > 1 and sys.argv[1] == "--media-check":
        run_check("media")
    elif len(sys.argv) == 1:
        main()
    else:
        raise SystemExit(__doc__)
