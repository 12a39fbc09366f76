"""Tracing from outside the engine: spans around its public functions, and
Spark task metrics from a local event log.

``Tracer.install`` patches each function where it is called (``plans.crawl``
imports ``run_round_critical`` by name, ``plans.round`` imports
``build_bloom_distributed`` by name, ...). A wrapper records a span (name,
start, end, parent, thread, round) and labels the Spark jobs its thread
launches meanwhile with ``SparkContext.setLocalProperty``, so the event log
ties stages back to spans. The round's bookkeeping jobs run on the engine's
``bk-r{round}`` worker threads; a span opened there with no open span on its
own thread is parented to that round's open ``round.critical`` (or
``round.finish``) span. Self time is a span's duration minus what its
direct children, on any thread, cover.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_PROP = "crawlbench.span"
COMMIT_TABLES = (
    "fetched", "spans", "seen", "pending", "crawl_order", "dead", "metrics", "lineage",
)


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: int | None
    thread: str
    round: int | None
    phase: str  # "setup" or "run"
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _thread_round() -> int | None:
    m = re.match(r"bk-r(\d+)_", threading.current_thread().name)
    return int(m.group(1)) if m else None


def _arg_round(pos: int):
    return lambda args, kwargs: args[pos] if len(args) > pos else None


def _meta_round(args, kwargs):
    return (kwargs.get("meta") or {}).get("round")


class Tracer:
    """Spans of one process. ``phase`` tags new spans with the part of the
    repetition they belong to; clearing ``enabled`` stops recording."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.phase = "setup"
        self.enabled = True
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, Span] = {}
        self._next_id = 0

    # -- spans ----------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _anchor(self, rnd: int | None, name: str | None) -> Span | None:
        with self._lock:
            opened = sorted(self._open.values(), key=lambda s: s.start, reverse=True)
        wanted = [name] if name else ["round.critical", "round.finish", "crawl.run"]
        for want in wanted:
            for s in opened:
                if s.name == want and (want == "crawl.run" or s.round == rnd):
                    return s
        return None

    def _enter(self, name: str, rnd, anchor: str | None) -> tuple[Span, str | None]:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a bk-r{r} thread works for round r (its pending commit is
            # tagged r + 1, the round that will read it)
            thread_round = _thread_round()
            rnd = thread_round if thread_round is not None else rnd
            parent = self._anchor(rnd, anchor)
        if rnd is None and parent is not None:
            rnd = parent.round
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            sp = Span(sid, name, time.time(), 0.0, parent.id if parent else None,
                      threading.current_thread().name, rnd, self.phase)
            self._open[sid] = sp
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        stack.append(sp)
        return sp, prev

    def _exit(self, sp: Span, prev) -> None:
        sp.end = time.time()
        self._stack().pop()
        self.sc.setLocalProperty(SPAN_PROP, prev)
        with self._lock:
            del self._open[sp.id]
            self.spans.append(sp)

    # -- patching -------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, round_of=None, anchor=None, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            rnd = round_of(args, kwargs) if round_of else None
            sp, prev = self._enter(name, rnd, anchor)
            try:
                out = orig(*args, **kwargs)
            finally:
                self._exit(sp, prev)
            if after is not None:
                after(sp, args, out)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from swmaestro_crawler_spark import catalog
        from swmaestro_crawler_spark.plans import crawl, round as round_

        C, Cat = crawl.Crawl, catalog.Catalog
        self.wrap(C, "bootstrap", "crawl.bootstrap")
        self.wrap(C, "resume_or_bootstrap", "crawl.resume")
        self.wrap(C, "requeue_dead", "crawl.requeue_dead")
        self.wrap(C, "run", "crawl.run")
        self.wrap(crawl, "run_round_critical", "round.critical", _arg_round(3))
        self.wrap(crawl, "finish_round", "round.finish",
                  lambda a, k: a[1].round, anchor="crawl.run")
        self.wrap(round_, "with_global_ord", "round.global_ord")
        self.wrap(round_, "build_bloom_distributed", "seen.bloom_build")
        for method in ("overwrite", "append", "append_rows", "overwrite_stage"):
            self.wrap(Cat, method, "catalog.commit", _meta_round, after=_record_written)
        self.wrap(Cat, "append_files", "catalog.commit", _meta_round, after=_record_table)
        self.wrap(Cat, "read", "catalog.read")
        self.wrap(Cat, "row_count", "catalog.read")


def _record_table(sp: Span, args, sid) -> None:
    sp.attrs["table"] = args[1]


def _record_written(sp: Span, args, sid) -> None:
    """Files and bytes a commit added (after the span has closed)."""
    cat, table = args[0], args[1]
    sp.attrs["table"] = table
    new = set(cat.data_files(table, sid)) - set(cat.data_files(table, sid - 1))
    sp.attrs["files"] = len(new)
    sp.attrs["bytes"] = sum(os.path.getsize(p) for p in new)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its direct children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {
        s.id: s.dur - _covered(
            [(max(c.start, s.start), min(c.end, s.end))
             for c in kids[s.id] if c.end > s.start and c.start < s.end]
        )
        for s in spans
    }


# -- event log -------------------------------------------------------------------
def read_event_log(log_dir: str) -> tuple[list[float], list[dict]]:
    """(job submission times, stages) from the Spark event log in
    ``log_dir``. A stage holds its name (the call site), its operators,
    submission time, span label and per-task metrics."""
    jobs: list[float] = []
    stages: dict[int, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1e3)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "name": info["Stage Name"],
                        "ops": sorted({json.loads(r["Scope"])["name"]
                                       for r in info["RDD Info"] if "Scope" in r}),
                        "time": info.get("Submission Time", 0) / 1e3,
                        "span": (ev.get("Properties") or {}).get(SPAN_PROP),
                        "tasks": [],
                    }
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    stages[ev["Stage ID"]]["tasks"].append({
                        "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_write_bytes":
                            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "shuffle_read_bytes":
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill_bytes":
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "failed": bool(info.get("Failed")),
                    })
    return jobs, list(stages.values())


def spark_totals(stages: list[dict]) -> dict[str, float]:
    tasks = [t for st in stages for t in st["tasks"]]
    return {
        "stages": len(stages),
        "tasks": len(tasks),
        "exec_run_s": sum(t["run_s"] for t in tasks),
        "exec_cpu_s": sum(t["cpu_s"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "failed_tasks": sum(t["failed"] for t in tasks),
    }


def _is_fetch_stage(st: dict) -> bool:
    """The fused fetch: the ``MapInArrow`` stage of the round's ``first()``
    action in plans/round.py."""
    return (
        st["name"].startswith("first at ") and "round.py" in st["name"]
        and "MapInArrow" in st["ops"]
    )


# -- per-layer metrics -------------------------------------------------------------
def rep_metrics(spans: list[Span], jobs: list[float], stages: list[dict],
                window: tuple[float, float], facts: dict) -> dict[str, float]:
    """Per-layer metrics of one traced repetition's run. ``spans`` are the
    repetition's spans, ``window`` is the run's interval, ``facts`` holds
    counts read from the round results and the checkpoint."""
    run = [s for s in spans if s.phase == "run"]
    selft = self_times(run)
    boot = next(s for s in spans if s.name == "crawl.bootstrap")

    def total(name):
        return sum(s.dur for s in run if s.name == name)

    def self_of(name):
        return sum(selft[s.id] for s in run if s.name == name)

    commits = [s for s in run if s.name == "catalog.commit"]
    t0, t1 = window
    win = [st for st in stages if t0 <= st["time"] <= t1]
    fetch = [st for st in win if _is_fetch_stage(st)]
    skew = [
        max(d) / statistics.median(d)
        for d in ([t["dur_s"] for t in st["tasks"]] for st in fetch) if d
    ]
    rows_in = facts["consumed"] - facts["excluded"]
    fill = facts["bloom_fill"]
    out = {
        "crawl.bootstrap_s": boot.dur,
        "crawl.resume_s": total("crawl.resume"),
        "crawl.loop_self_s": self_of("crawl.run"),
        "round.critical_s": total("round.critical"),
        "round.critical_self_s": self_of("round.critical"),
        "round.finish_s": total("round.finish"),
        "round.global_ord_s": total("round.global_ord"),
        "round.rounds": sum(s.name == "round.critical" for s in run),
        "fetch.rows": facts["admitted"],
        "fetch.ok_rows": facts["fetched_ok"],
        "fetch.exec_s": sum(t["run_s"] for st in fetch for t in st["tasks"]),
        "fetch.task_skew": max(skew, default=0.0),
        "fetch.scratch_bytes": sum(
            s.attrs.get("bytes", 0) for s in commits if s.attrs.get("table") == "fetched"
        ),
        "seen.bloom_build_s": total("seen.bloom_build"),
        "seen.dropped_frac": (rows_in - facts["admitted"] - facts["deferred"]) / rows_in,
        "seen.bloom_fill": fill,
        "seen.bloom_fp_est": fill ** facts["bloom_k"],
        "politeness.admitted": facts["admitted"],
        "politeness.deferred": facts["deferred"],
        "politeness.excluded": facts["excluded"],
        "catalog.commits": len(commits),
        "catalog.files_written": sum(s.attrs.get("files", 0) for s in commits),
        "catalog.bytes_written": sum(s.attrs.get("bytes", 0) for s in commits),
        "catalog.read_s": total("catalog.read"),
        "spark.jobs": sum(t0 <= j <= t1 for j in jobs),
    }
    for table in COMMIT_TABLES:
        out[f"catalog.commit_s.{table}"] = sum(
            s.dur for s in commits if s.attrs.get("table") == table
        )
    out.update({f"spark.{k}": v for k, v in spark_totals(win).items()})
    return out


def trace_record(spans: list[Span], stages: list[dict]) -> dict:
    """The trace file's body: spans with self time and their Spark task
    metrics, and self time summed per layer and repetition."""
    selft = self_times(spans)
    by_span = defaultdict(list)
    for st in stages:
        by_span[st["span"]].append(st)
    layer_self = defaultdict(float)
    for s in spans:
        layer_self[f"{s.phase}.{s.name.split('.')[0]}"] += selft[s.id]
    return {
        "spans": [
            {
                "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "thread": s.thread, "round": s.round,
                "phase": s.phase, "self_s": selft[s.id], **s.attrs,
                "spark": spark_totals(by_span.get(str(s.id), [])),
            }
            for s in sorted(spans, key=lambda s: s.start)
        ],
        "layer_self_s": dict(sorted(layer_self.items())),
        "unlabelled_spark": spark_totals(by_span.get(None, [])),
    }
