"""``tools/bench_scaling.py`` without a Spark session: the host's N -> 4N
pair, the median summary and the BASELINE.md renderer."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "bench_scaling",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "bench_scaling.py"),
)
bs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bs)


@pytest.mark.parametrize("cpus", [1, 2, 3])
def test_host_pair_refuses_fewer_than_four_cpus(monkeypatch, cpus):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    with pytest.raises(SystemExit, match="at least 4 CPUs"):
        bs.host_pair()


@pytest.mark.parametrize(
    "cpus, pair", [(4, (1, 4)), (5, (1, 4)), (8, (2, 8)), (32, (8, 32))]
)
def test_host_pair_is_a_quarter_of_the_cpus_and_four_times_that(monkeypatch, cpus, pair):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    assert bs.host_pair() == pair


def _run(cores, wall, fetch, seen="s/9"):
    return {
        "cores": cores,
        "wall_s": wall,
        "processed": 100,
        "stages": {"fetch": fetch, "tiny": 0.01},
        "crawl_order_digest": "o/10",
        "seen_digest": seen,
    }


def test_summary_takes_each_level_from_the_medians_of_its_runs():
    runs = {
        1: [_run(1, 40.0, 30.0), _run(1, 10.0, 8.0), _run(1, 44.0, 33.0)],
        4: [_run(4, 12.0, 9.0), _run(4, 100.0, 80.0), _run(4, 11.0, 8.0)],
    }
    s = bs.summarize(runs, ("crawl_order_digest", "seen_digest"))
    assert s["levels"]["1"]["wall_s"] == 40.0 and s["levels"]["4"]["wall_s"] == 12.0
    assert s["levels"]["1"]["stages"] == {"fetch": 30.0, "tiny": 0.01}
    assert s["all_walls"] == {"1": [40.0, 10.0, 44.0], "4": [12.0, 100.0, 11.0]}
    assert s["efficiencies"] == {"1->4": round(40 / 12 / 4, 3)}
    # stages under 0.05 s at 4N get no efficiency
    assert s["stage_efficiencies"] == {"fetch": round(30 / 9 / 4, 3)}
    assert s["digests_match"] == {"crawl_order_digest": True, "seen_digest": True}


def test_passes_needs_every_run_to_agree_on_the_digests():
    same = {1: [_run(1, 40.0, 30.0)] * 2, 4: [_run(4, 10.0, 7.5)] * 2}
    rec = bs.scaling_summary(same, {})
    assert rec["scaling_efficiency"] == 1.0 and rec["passes"]
    one_off = {1: same[1], 4: [_run(4, 10.0, 7.5), _run(4, 10.0, 7.5, seen="s/8")]}
    rec = bs.scaling_summary(one_off, {})
    assert rec["scaling_efficiency"] == 1.0
    assert rec["crawl_order_match"] and not rec["seen_match"]
    assert not rec["passes"]


def test_renders_the_committed_record_without_writing():
    with open(bs.SCALING_JSON) as f:
        rec = json.load(f)
    paths = (bs.SCALING_JSON, bs.BASELINE_MD)
    before = [os.stat(p).st_mtime_ns for p in paths]
    md = bs.render(rec)
    assert [os.stat(p).st_mtime_ns for p in paths] == before
    blocks = [k for k in rec if k not in bs.PRIMARY]
    assert blocks, "the record holds the other checks' blocks"
    for key in blocks:
        assert f"\n## {key}\n" in md
    with open(bs.BASELINE_MD) as f:
        assert f.read() == md
