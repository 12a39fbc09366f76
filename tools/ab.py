"""Interleaved A/B of two revisions on one benchmark workload.

    python3 tools/ab.py REV_A REV_B --workload bulk_round --seeds 31-40

REV_A is the parent, REV_B the change. Either may be any git revision, or
``WORKTREE``: the checkout's tracked and untracked-not-ignored files
(``git ls-files -co --exclude-standard``). Each arm is exported into a
fresh temporary directory and every run starts from there, never from the
checkout itself (a run from a working checkout reads slower and uses more
memory than a clean export of the same files).

For each seed, one pair of fresh-process runs of ``python3
crawlbench/run.py --workload W --seed N --seconds <BENCHMARK.json
run_seconds> --trace 0``, one per arm; the arm that goes first alternates
from pair to pair so a slow host phase hits both. Every run's result and
detail line is printed. Then, per end-to-end metric of BENCHMARK.json:
both medians, the parent's quartiles, the pairs the change won and a
verdict (``judge``). Exits non-zero if a run or its output check failed,
or if a metric ``regressed``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKTREE = "WORKTREE"


def judge(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """Verdict on one metric from paired runs (``parent[i]`` and
    ``change[i]`` ran as pair i):

    - ``regressed``: the change's median is worse than the parent's by
      more than ``bound`` (a fraction of the parent's median);
    - ``unresolved``: the parent's IQR / median exceeds ``bound`` and not
      every change run beats every parent run, so the runs spread too
      widely to tell;
    - ``gain``: the change won at least 9 in 10 pairs and its median is
      better by more than the parent's IQR;
    - ``unchanged``: otherwise."""
    sign = 1 if better == "lower" else -1  # sign * (b - a) < 0: b is better
    med_a, med_b = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4, method="inclusive")
    wins = sum(sign * (b - a) < 0 for a, b in zip(parent, change))
    worse = sign * (med_b - med_a) / med_a
    if worse > bound:
        verdict = "regressed"
    elif (q3 - q1) / med_a > bound and not all(
        sign * (b - a) < 0 for a in parent for b in change
    ):
        verdict = "unresolved"
    elif wins >= math.ceil(0.9 * len(parent)) and -sign * (med_b - med_a) > q3 - q1:
        verdict = "gain"
    else:
        verdict = "unchanged"
    return {
        "parent_median": med_a,
        "change_median": med_b,
        "delta": (med_b - med_a) / med_a,
        "parent_q1": q1,
        "parent_q3": q3,
        "wins": wins,
        "pairs": len(parent),
        "verdict": verdict,
    }


def exit_status(rows: list[dict], failed: int) -> int:
    """1 if any run failed or any metric regressed, else 0."""
    if failed:
        print(f"{failed} runs failed")
    return 1 if failed or any(r["verdict"] == "regressed" for r in rows) else 0


def parse_seeds(spec: str) -> list[int]:
    """``31-40`` -> [31, ..., 40]; ``7`` -> [7]."""
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def export(rev: str, dest: str) -> None:
    """Write ``rev``'s files (or the working tree's) into ``dest``."""
    if rev == WORKTREE:
        names = subprocess.run(
            ["git", "ls-files", "-co", "--exclude-standard", "-z"],
            cwd=REPO, capture_output=True, check=True,
        ).stdout.decode().split("\0")
        for name in filter(None, names):
            src = os.path.join(REPO, name)
            if os.path.isfile(src):  # a tracked file deleted in the tree is not
                os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, name))
        return
    archive = subprocess.run(
        ["git", "archive", "--format=tar", rev], cwd=REPO, capture_output=True, check=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(arm: str, seed: int, workload: str, seconds: float) -> dict | None:
    """One fresh-process benchmark run in the export ``arm``: its result
    line's metric values, or None if the run or its output check failed."""
    p = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=arm, capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    for line in lines[-2:]:
        print("   ", line, flush=True)
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    if res is None or not res["correct"] or res["failed"]:
        print(f"    run failed (exit {p.returncode}):\n{p.stderr[-3000:]}", flush=True)
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def report(spec: list[dict], runs: dict[str, list]) -> list[dict]:
    """Judge every end-to-end metric over the pairs where both arms ran,
    and print one table row per metric."""
    pairs = [(a, b) for a, b in zip(runs["parent"], runs["change"]) if a and b]
    print(f"\n{len(pairs)} complete pairs")
    if len(pairs) < 2:  # quartiles need two runs
        return []
    print(f"{'metric':<14} {'better':<6} {'bound':>5} {'parent':>10} {'change':>10} "
          f"{'delta':>7} {'parent q1-q3':>19} {'wins':>6}  verdict")
    rows = []
    for m in spec:
        name = m["name"]
        j = judge([a[name] for a, _ in pairs], [b[name] for _, b in pairs],
                  m["better"], m["bound"])
        rows.append({"metric": name, **j})
        print(f"{name:<14} {m['better']:<6} {m['bound']:>5} {j['parent_median']:>10.2f} "
              f"{j['change_median']:>10.2f} {j['delta']:>+7.1%} "
              f"{j['parent_q1']:>9.2f}-{j['parent_q3']:<9.2f} "
              f"{j['wins']:>3}/{j['pairs']:<2}  {j['verdict']}")
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a", help="parent: a git revision or WORKTREE")
    ap.add_argument("rev_b", help="change: a git revision or WORKTREE")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 31-40; one pair per seed")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)

    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        arms = {}
        for label, rev in (("parent", args.rev_a), ("change", args.rev_b)):
            arms[label] = os.path.join(tmp, label)
            os.makedirs(arms[label])
            export(rev, arms[label])
        runs = {"parent": [], "change": []}
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for label in order:
                print(f"pair {i + 1} seed {seed} {label}", flush=True)
                runs[label].append(
                    run_once(arms[label], seed, args.workload, bench["run_seconds"])
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    failed = sum(r is None for arm in runs.values() for r in arm)
    return exit_status(report(bench["end_to_end"], runs), failed)


if __name__ == "__main__":
    sys.exit(main())
