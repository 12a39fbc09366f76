"""``bench.py``'s flagship-crawl arm and CPU default without a Spark
session: ``tools/ab.py``'s ``run_once`` is stubbed."""

from __future__ import annotations

import importlib.util
import os

import pytest

import swmaestro_crawler_spark.config as config

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _result(wall, urls_per_s):
    return {
        "setup_s": 9.0,
        "wall_s": wall,
        "urls_per_s": urls_per_s,
        "fetched_per_s": urls_per_s / 2,
        "peak_rss_mb": 2000.0,
    }


def _stub_runs(monkeypatch, results):
    calls = []

    def run_once(arm, seed, workload, seconds):
        calls.append((arm, seed, workload, seconds))
        print("    echo of one run")
        return results[len(calls) - 1]

    monkeypatch.setattr(bench.ab, "run_once", run_once)
    return calls


def test_crawl_block_takes_the_medians_of_three_runs(monkeypatch, capsys):
    calls = _stub_runs(
        monkeypatch, [_result(50.0, 600.0), _result(40.0, 800.0), _result(70.0, 400.0)]
    )
    crawl = bench.run_crawl()
    assert calls == [(bench.REPO, 42, "crawl_3round", 0)] * 3
    assert crawl["wall_s"] == 50.0
    assert crawl["all_walls"] == [50.0, 40.0, 70.0]
    assert crawl["urls_per_s"] == 600.0
    assert crawl["fetched_per_s"] == 300.0
    assert (crawl["setup_s"], crawl["peak_rss_mb"]) == (9.0, 2000.0)
    out = capsys.readouterr()
    assert out.out == ""  # stdout carries only bench.py's result line
    assert out.err.count("echo of one run") == 3


def test_a_failed_run_exits_before_any_spark_session(monkeypatch):
    _stub_runs(monkeypatch, [_result(50.0, 600.0), None, _result(70.0, 400.0)])

    def no_session(*args, **kwargs):
        raise AssertionError("bench.py started a SparkSession after a failed crawl")

    monkeypatch.setattr(config, "spark_builder", no_session)
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code not in (0, None)


def test_cpus_default_to_the_process_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(6)))
    assert bench.cpus() == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert bench.cpus() == 3
