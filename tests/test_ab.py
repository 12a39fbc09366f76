"""tools/ab.py's verdicts on recorded and constructed run vectors (no
Spark, no subprocess)."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

# bulk_round wall_s, seeds 31-40, of the single-probe round change
# (0157f5d) against its parent: CHANGES.md records 10/10 pairs faster
PARENT = [12.06, 11.93, 11.84, 12.15, 12.13, 13.53, 12.50, 11.06, 12.83, 13.33]
CHANGE = [8.78, 8.71, 10.02, 8.38, 8.69, 8.66, 9.71, 9.19, 7.90, 8.53]


def test_recorded_speedup_is_a_gain():
    j = ab.judge(PARENT, CHANGE, "lower", 0.25)
    assert j["verdict"] == "gain"
    assert round(j["parent_median"], 2) == 12.14
    assert round(j["change_median"], 2) == 8.70
    assert (round(j["parent_q1"], 2), round(j["parent_q3"], 2)) == (11.96, 12.75)
    assert (j["wins"], j["pairs"]) == (10, 10)
    # the same vectors as a higher-is-better metric: the change is worse
    # by 28%, beyond a 0.25 bound
    assert ab.judge(PARENT, CHANGE, "higher", 0.25)["verdict"] == "regressed"


def test_regression_fails_the_run(capsys):
    spec = [{"name": "peak_rss_mb", "better": "lower", "bound": 0.2}]
    parent = [{"peak_rss_mb": v} for v in (2200, 2210, 2190, 2205, 2195)]
    change = [{"peak_rss_mb": v * 1.3} for v in (2200, 2210, 2190, 2205, 2195)]
    rows = ab.report(spec, {"parent": parent, "change": change})
    assert [r["verdict"] for r in rows] == ["regressed"]
    assert "regressed" in capsys.readouterr().out
    assert ab.exit_status(rows, failed=0) == 1
    rows[0]["verdict"] = "unchanged"
    assert ab.exit_status(rows, failed=0) == 0
    assert ab.exit_status(rows, failed=1) == 1


def test_wide_parent_spread_is_unresolved():
    parent = [8.0, 12.0, 10.0, 14.0, 7.0, 13.0, 9.0, 11.0]
    change = [9.0, 11.5, 10.5, 12.0, 8.5, 12.5, 9.5, 10.0]
    j = ab.judge(parent, change, "lower", 0.25)
    assert (j["parent_q3"] - j["parent_q1"]) / j["parent_median"] > 0.25
    assert j["verdict"] == "unresolved"
    # ...unless every change run beats every parent run
    assert ab.judge(parent, [v / 10 for v in change], "lower", 0.25)["verdict"] == "gain"


@pytest.mark.parametrize(
    "spec, seeds", [("31-40", list(range(31, 41))), ("7", [7])]
)
def test_parse_seeds(spec, seeds):
    assert ab.parse_seeds(spec) == seeds
