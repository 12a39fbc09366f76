"""Crawl-engine benchmark.

    python3 crawlbench/run.py --workload bulk_round --seed 1 --seconds 10 --trace 0

Runs one workload (``workloads.py``) in this fresh process on
``local[<cores available>]``: start Spark, set the workload up, run it and
check its output, then repeat set-up, run and check while ``--seconds``
last. The first repetition is the process's first crawl, run with the JVM
and the Python workers cold, as every crawl started by spark-submit is; on
a 4-core host one repetition outlasts 10 s, so a run is one cold crawl.
The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it, and ``.crawlbench/out/``, hold
the details: every repetition's set-up, wall and round stage timings, the
memory peak by command, host calibration, the pinned environment and
versions. A run whose output check fails prints no result and exits 1.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (fresh
interpreter until the first ``Crawl.run`` call: Spark session and the
workload's set-up), ``wall_s`` (median ``Crawl.run``), ``urls_per_s``
(pending rows the rounds consumed / wall), ``fetched_per_s`` and
``peak_rss_mb`` (peak summed RSS of this process tree: Python driver, JVM
and Python workers, sampled every 0.5 s).

``--trace 1`` enables a Spark event log, wraps the engine's public
functions (``tracing.py``) and makes one traced repetition. It reports the
per-layer metrics and ``trace.overhead_frac``: its wall / the median wall
of this workload's untraced runs recorded in ``.crawlbench/out/`` - 1 (if
there are none, it first makes one, in a fresh process). Spans, per-layer
self time and per-span Spark task metrics go to ``.crawlbench/out/``.

``--workload all`` runs every workload of BENCHMARK.json in its own
process and prints one summary line per workload, with ``failed_frac``.
``--workload crawl_3round`` runs bench.py's flagship 3-round crawl, which
outlasts the per-run time budget and so is not in BENCHMARK.json; at
``--seed 42`` it checks the recorded logical digests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".crawlbench")


def since_process_start() -> float:
    """Seconds since this interpreter was exec'd (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> dict[int, str]:
    """pid -> command of every process below ``root``."""
    kids, comm = defaultdict(list), {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:  # the process ended while we listed /proc
            continue
        kids[int(tail.split()[1])].append(int(d))
        comm[int(d)] = head.split("(", 1)[1]
    out, todo = {}, list(kids[root])
    while todo:
        pid = todo.pop()
        out[pid] = comm[pid]
        todo += kids[pid]
    return out


def tree_rss(root: int) -> dict[str, int]:
    """Resident set size, in bytes, of ``root`` and all its descendants,
    summed per command (from ``/proc/<pid>/statm``, which reads counters
    and, unlike ``smaps``, does not walk the processes' page tables)."""
    out, page = defaultdict(int), os.sysconf("SC_PAGE_SIZE")
    for pid, cmd in {root: "self", **descendants(root)}.items():
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[cmd] += int(f.read().split()[1]) * page
        except OSError:  # the process ended
            continue
    return out


class PeakMemory(threading.Thread):
    """Samples the process tree's summed RSS; keeps the peak and its
    breakdown by command."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak, self.at_peak = 0, {}
        self._stop_ev = threading.Event()

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            by_cmd = tree_rss(os.getpid())
            if sum(by_cmd.values()) > self.peak:
                self.peak, self.at_peak = sum(by_cmd.values()), by_cmd

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


def host_calibration() -> dict:
    """bench.py's two probes: single-thread DuckDB hashing (scalar CPU) and
    a numpy 2048^2 matmul (multicore FP and memory bandwidth)."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    t0 = time.perf_counter()
    con.execute("SELECT sum(hash(range)) FROM range(20000000)").fetchall()
    duck_s = time.perf_counter() - t0
    con.close()
    a = np.random.RandomState(0).rand(2048, 2048)
    a @ a
    t0 = time.perf_counter()
    for _ in range(3):
        a @ a
    mm_s = (time.perf_counter() - t0) / 3
    return {
        "duckdb_1thread_hash20m_s": round(duck_s, 4),
        "numpy_matmul2048_gflops": round(2 * 2048**3 / mm_s / 1e9, 1),
    }


def pin_environment(work: str) -> dict:
    """Environment the engine and its Python workers need, set before the
    JVM starts: driver heap that fits the host, scratch inside ``work``,
    the repo on the workers' import path."""
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": f"{max(1, min(2, mem_kb // (4 << 20)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return {**env, "mem_total_gb": round(mem_kb / (1 << 20), 1)}


def start_spark(cores: int, partitions: int, work: str, event_log: str | None):
    from swmaestro_crawler_spark.config import spark_builder

    # JVM options: temporary files inside the checkout, no hsperfdata file
    # in /tmp, and C1-only JIT. A run is one short, cold process; on a
    # 4-core host, C2's compile threads compete with the task threads
    # while the hot paths warm up, and C1-only cut the cold round's wall by
    # a quarter and its run-to-run spread by half (5 seeds each).
    java_opts = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    )
    b = (
        spark_builder("crawlbench", master=f"local[{cores}]", shuffle_partitions=partitions)
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def running(pids) -> list[int]:
    """The pids of ``pids`` whose process has not ended (zombies have)."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except OSError:
            pass
    return out


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it started
    have ended; kill what is left after 30 s."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF, its Python daemon with it
    deadline = time.monotonic() + 30
    while running(procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in running(procs):
        print(f"killing {procs[pid]} ({pid}), still running after Spark stopped",
              file=sys.stderr)
        os.kill(pid, signal.SIGKILL)
    gateway.proc.wait()
    while running(procs):
        time.sleep(0.1)


def bloom_fill(warehouse: str, r: int) -> float:
    import numpy as np

    bits = np.load(os.path.join(warehouse, f"bloom-r{r}.npy"))
    return float(np.unpackbits(bits.view(np.uint8)).sum()) / (bits.size * 64)


def repetitions(args, wl, spark, tracer) -> list[dict]:
    """Set up, run and check the workload: once, and again while the
    measuring window lasts (never when tracing)."""
    from workloads import consumed_rows

    reps = []
    deadline = time.perf_counter() + args.seconds
    while not reps or (not args.trace and time.perf_counter() < deadline):
        i = len(reps)
        rep = {"rep": i, "ok": False}
        reps.append(rep)
        try:
            t = time.perf_counter()
            crawl = wl.setup(spark, str(i))
            rep["setup_s"] = time.perf_counter() - t
            pending = crawl.cat.row_count("pending")
            if tracer:
                tracer.phase = "run"
            rep["ready_s"] = since_process_start()
            e0, t = time.time(), time.perf_counter()
            results = wl.run(crawl)
            rep["wall_s"] = time.perf_counter() - t
            rep["window"] = (e0, time.time())
            if tracer:
                tracer.enabled = False
            errors = wl.check(crawl, results)
            rep.update(
                consumed=consumed_rows(pending, results),
                admitted=sum(r.admitted for r in results),
                fetched_ok=sum(r.fetched_ok for r in results),
                deferred=sum(r.deferred for r in results),
                excluded=sum(r.excluded for r in results),
                bloom_fill=bloom_fill(crawl.cat.warehouse, results[-1].round),
                bloom_k=crawl.cfg.bloom_hashes,
                timings=[r.timings for r in results],
                errors=errors,
                ok=not errors,
            )
            shutil.rmtree(crawl.cat.warehouse)
        except Exception:
            rep["errors"] = [traceback.format_exc()]
        for e in rep.get("errors", []):
            print(f"run {i} failed: {e}", file=sys.stderr)
    return reps


def untraced_walls(args) -> list[float]:
    """``wall_s`` of this workload's untraced runs recorded in this
    checkout; if there are none, of one made now, in a fresh process."""
    def recorded():
        out, walls = os.path.join(STATE, "out"), []
        for name in sorted(os.listdir(out)):
            if name.startswith(f"{args.workload}-seed") and name.endswith("-trace0.json"):
                with open(os.path.join(out, name)) as f:
                    walls += [json.load(f).get("metrics", {}).get("wall_s")]
        return [w for w in walls if w is not None]

    if not recorded():
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", "0", "--trace", "0"],
            stdout=subprocess.DEVNULL, check=True,
        )
    return recorded()


def measure(args, cores: int, work: str) -> dict:
    from tracing import Tracer, read_event_log, rep_metrics, trace_record
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    event_log = os.path.join(work, "events") if args.trace else None
    spark = start_spark(cores, wl.partitions, work, event_log)
    try:
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        spark_ready_s = since_process_start()
        reps = repetitions(args, wl, spark, tracer)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t

    out = {"reps": reps, "spark_ready_s": spark_ready_s, "stop_s": stop_s}
    if not all(r["ok"] for r in reps):
        return out
    if not args.trace:
        out["metrics"] = {
            "setup_s": reps[0]["ready_s"],
            "wall_s": statistics.median(r["wall_s"] for r in reps),
            "urls_per_s": statistics.median(r["consumed"] / r["wall_s"] for r in reps),
            "fetched_per_s": statistics.median(r["fetched_ok"] / r["wall_s"] for r in reps),
        }
        return out

    jobs, stages = read_event_log(event_log)
    (log,) = os.listdir(event_log)
    shutil.copy(os.path.join(event_log, log), os.path.join(
        STATE, "out", f"{args.workload}-seed{args.seed}-events.json"))
    (rep,) = reps
    metrics = rep_metrics(tracer.spans, jobs, stages, rep["window"], rep)
    metrics["trace.overhead_frac"] = rep["wall_s"] / statistics.median(untraced_walls(args)) - 1
    out["metrics"] = metrics
    out["tracing"] = trace_record(tracer.spans, stages)
    return out


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_all(args) -> int:
    """Every BENCHMARK.json workload, each in a fresh process."""
    names = [w["name"] for w in benchmark_spec()["workloads"]]
    bad = 0
    for name in names:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        if res is None or not res["correct"]:
            bad += 1
        summary = {"workload": name, "exit": p.returncode, "failed_frac": 1.0}
        if res is not None:  # a failed run prints no result: its one run failed
            summary["failed_frac"] = res["failed"] / res["attempted"]
            summary.update({k: v["value"] for k, v in res["metrics"].items()})
        print(json.dumps(summary), flush=True)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "swmaestro_crawler_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    spec = benchmark_spec()["per_layer" if args.trace else "end_to_end"]

    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    mem = PeakMemory()
    mem.start()
    try:
        out = measure(args, cores, work)
    finally:
        mem.stop()
        shutil.rmtree(work, ignore_errors=True)
    import pyspark

    out.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        cores=cores, env=env, pyspark=pyspark.__version__,
        java=subprocess.run(["java", "-version"], capture_output=True, text=True)
        .stderr.splitlines()[0],
        calibration=host_calibration(),
        rss_at_peak_mb={k: round(v / (1 << 20), 1) for k, v in mem.at_peak.items()},
    )
    path = os.path.join(
        STATE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    failed = sum(not r["ok"] for r in out["reps"])
    if failed:
        print(f"{failed} of {len(out['reps'])} runs failed; see {path}", file=sys.stderr)
        return 1
    metrics = out["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = mem.peak / (1 << 20)
    print(json.dumps({
        "detail": os.path.relpath(path, ROOT),
        "walls_s": [round(r["wall_s"], 3) for r in out["reps"]],
        "spark_ready_s": round(out["spark_ready_s"], 3),
        "rss_at_peak_mb": out["rss_at_peak_mb"],
        "calibration": out["calibration"],
    }))
    print(json.dumps({
        "correct": True,
        "attempted": len(out["reps"]),
        "failed": 0,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
