"""Bench-scale SIGKILL/resume proof (the north rule's resumability clause).

The rule: a killed job resumes mid-round and the resulting tables are
byte-identical to an uninterrupted run. tests/test_resume.py proves the
rollback logic at unit scale by simulating a partial round inside one
process; this tool proves the PROCESS-level claim at frontier scale, on
the steady-state round tools/bench_scaling.py measures, at that tool's
4N cores (``bench_scaling.host_pair``):

1. an UNINTERRUPTED reference run in its own subprocess records its
   round wall and ``Catalog.content_digest`` for every round-written
   table;
2. a VICTIM subprocess bootstraps the same frontier into a persistent
   warehouse and is SIGKILLed mid-round: the parent waits for the
   post-bootstrap marker, then half the reference run's round wall;
3. a RESUME subprocess opens the victim's warehouse and runs to
   completion — ``Crawl.resume_or_bootstrap`` must roll back any
   partially committed appends and re-run the round deterministically.

The check asserts that the resume-run table digests equal the
uninterrupted-run digests for every table. Results merge into
BENCH/scaling.json as ``kill_resume_check``.

Usage:
    python tools/kill_resume_check.py                  # full check
    python tools/kill_resume_check.py --ref CORES DIR  # internal: reference run
    python tools/kill_resume_check.py --victim CORES DIR
    python tools/kill_resume_check.py --finish CORES DIR
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_scaling import (  # noqa: E402
    N_HOSTS,
    N_URLS,
    REPO,
    host_pair,
    merge_scaling,
    start_crawl,
    synth_frontier,
)

TABLES = ("spans", "seen", "crawl_order", "dead", "pending", "fetched")


def _crawl(cores: int, wh: str):
    # scratch name derived from the warehouse (not the pid) so the
    # parent can clean up a SIGKILLed worker's shuffle dirs
    scratch = os.path.join(os.path.dirname(wh), f"local-{os.path.basename(wh)}")
    spark, crawl = start_crawl(cores, wh, scratch)
    return spark, crawl, lambda: synth_frontier(spark, N_URLS, N_HOSTS, 32)


def _digests(crawl) -> dict[str, str]:
    return {t: crawl.cat.content_digest(t) for t in TABLES}


def ref_run(cores: int, wh: str) -> None:
    spark, crawl, frontier = _crawl(cores, wh)
    crawl.bootstrap(frontier=frontier())
    t0 = time.perf_counter()
    crawl.run(None, rounds=1)
    wall = time.perf_counter() - t0
    print(
        "WORKER_RESULT "
        + json.dumps({"wall_s": round(wall, 3), "digests": _digests(crawl)}),
        flush=True,
    )
    spark.stop()


def victim_run(cores: int, wh: str) -> None:
    spark, crawl, frontier = _crawl(cores, wh)
    crawl.bootstrap(frontier=frontier())
    print("BOOTSTRAPPED", flush=True)
    crawl.run(None, rounds=1)
    # reaching here means the parent's kill came too late — flag it
    print("ROUND_FINISHED", flush=True)
    spark.stop()


def finish_run(cores: int, wh: str) -> None:
    spark, crawl, _ = _crawl(cores, wh)
    t0 = time.perf_counter()
    results = crawl.run(None, rounds=1)  # resume path: seeds unused
    wall = time.perf_counter() - t0
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "wall_s": round(wall, 3),
                "rounds_rerun": len(results),
                "digests": _digests(crawl),
            }
        ),
        flush=True,
    )
    spark.stop()


def _spawn(mode: str, cores: int, base: str, **popen) -> subprocess.Popen:
    # own session: the SIGKILL goes to the whole process GROUP, so the
    # driver, its JVM, and every Python fetch worker die together — a
    # real crash, not a tidy driver-only exit
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), mode, str(cores), base],
        cwd=REPO,
        text=True,
        start_new_session=True,
        **popen,
    )


def _result(p: subprocess.Popen, what: str) -> dict:
    out, err = p.communicate()
    line = next(
        (ln for ln in out.splitlines() if ln.startswith("WORKER_RESULT ")), None
    )
    if line is None:
        sys.stderr.write(out[-2000:] + (err or "")[-4000:])
        raise SystemExit(f"{what} run failed")
    return json.loads(line[len("WORKER_RESULT "):])


def main() -> None:
    base = "/dev/shm/killres"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    cores = host_pair()[1]
    try:
        print(f"== reference run local[{cores}] ==", flush=True)
        ref = _result(
            _spawn("--ref", cores, os.path.join(base, "ref-wh"), stdout=subprocess.PIPE,
                   stderr=subprocess.PIPE),
            "reference",
        )
        print(json.dumps(ref), flush=True)
        # digests captured — free the reference warehouse + its shuffle
        # scratch so at most one warehouse lives on /dev/shm at a time
        shutil.rmtree(os.path.join(base, "ref-wh"), ignore_errors=True)
        shutil.rmtree(os.path.join(base, "local-ref-wh"), ignore_errors=True)

        # half the reference round: mid-round, whatever the host's speed
        kill_after = round(ref["wall_s"] / 2, 3)
        print(f"== victim run (SIGKILL {kill_after}s into the round) ==", flush=True)
        vwh = os.path.join(base, "victim-wh")
        v = _spawn("--victim", cores, vwh, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        # wait for the post-bootstrap marker so the kill lands mid-ROUND,
        # not mid-bootstrap (resume from a missing checkpoint is a
        # different, unsupported state — bootstrap is atomic-by-marker)
        for ln in v.stdout:
            if ln.strip() == "BOOTSTRAPPED":
                break
        else:
            raise SystemExit("victim died before bootstrap completed")
        time.sleep(kill_after)
        os.killpg(os.getpgid(v.pid), signal.SIGKILL)
        v.wait()
        # anything the victim wrote before dying is still in the pipe —
        # if the round actually completed the kill proved nothing
        finished_anyway = "ROUND_FINISHED" in (v.stdout.read() or "")
        print("victim killed", flush=True)
        # the victim's shuffle scratch died with it — only its WAREHOUSE
        # (the durable state resume must recover from) may survive
        shutil.rmtree(os.path.join(base, "local-victim-wh"), ignore_errors=True)

        print("== resume run on the victim warehouse ==", flush=True)
        res = _result(
            _spawn("--finish", cores, vwh, stdout=subprocess.PIPE, stderr=subprocess.PIPE),
            "resume",
        )
        print(json.dumps(res), flush=True)

        tables_match = {t: res["digests"][t] == ref["digests"][t] for t in TABLES}
        block = {
            "cores": cores,
            "kill_after_s": kill_after,
            "ref_wall_s": ref["wall_s"],
            "resume_wall_s": res["wall_s"],
            "rounds_rerun": res["rounds_rerun"],
            "victim_finished_before_kill": finished_anyway,
            "tables_match": tables_match,
            "all_match": all(tables_match.values()),
            "digests": res["digests"],
            "note": (
                f"SIGKILL half way through the {N_URLS:,}-URL steady-state "
                "round, then resume on the same warehouse: resume_or_bootstrap rolls "
                "back any partially committed appends (killed-attempt "
                "stage dirs are never adopted — fresh uuid per attempt) "
                "and re-runs the round; every table's content_digest must "
                "equal the uninterrupted run's."
            ),
        }
        merge_scaling({"kill_resume_check": block})
        print(json.dumps(block, indent=1))
        if finished_anyway:
            raise SystemExit("victim finished its round before the kill; this proved nothing")
        if not block["all_match"]:
            raise SystemExit("kill/resume digests DIVERGED")
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--ref":
        ref_run(int(sys.argv[2]), sys.argv[3])
    elif len(sys.argv) > 1 and sys.argv[1] == "--victim":
        victim_run(int(sys.argv[2]), sys.argv[3])
    elif len(sys.argv) > 1 and sys.argv[1] == "--finish":
        finish_run(int(sys.argv[2]), sys.argv[3])
    else:
        main()
