"""The benchmark's tracer patches engine functions by name
(``crawlbench/tracing.Tracer.install``). A rename or a moved import in
the engine must fail here, in the tier-1 suite, rather than in a traced
benchmark run."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_INSTALL = """
import sys, types
sys.path.insert(0, "crawlbench")
from tracing import Tracer

# install() only patches module and class attributes; it never calls
# Spark, so a stand-in session keeps the JVM out of this check
Tracer(types.SimpleNamespace(sparkContext=None)).install()

from swmaestro_crawler_spark import catalog
from swmaestro_crawler_spark.plans import crawl, round as round_

wrapped = {
    "Crawl.run": crawl.Crawl.run,
    "crawl.run_round_critical": crawl.run_round_critical,
    "crawl.finish_round": crawl.finish_round,
    "round.with_global_ord": round_.with_global_ord,
    "round.build_bloom_distributed": round_.build_bloom_distributed,
    "Catalog.overwrite_stage": catalog.Catalog.overwrite_stage,
}
missing = [name for name, fn in wrapped.items() if not hasattr(fn, "__wrapped__")]
assert not missing, missing
print("installed")
"""


def test_tracer_installs_against_engine():
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _INSTALL],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "installed"
