from __future__ import annotations

import shutil
import sys
from dataclasses import replace
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from swmaestro_crawler_spark.config import CrawlConfig, spark_builder  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = spark_builder("tests", master="local[4]", shuffle_partitions=8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def small_cfg(warehouse: str, **over) -> CrawlConfig:
    base = dict(
        round_seconds=6.0,
        max_rounds=3,
        max_depth=3,
        frontier_partitions=8,
        seen_buckets=16,
        bloom_bits=1 << 18,
        synth_n_hosts=20,
        warehouse=warehouse,
    )
    base.update(over)
    return CrawlConfig(**base)


@pytest.fixture()
def cfg(tmp_path):
    return small_cfg(str(tmp_path / "wh"))


@pytest.fixture(scope="session")
def crawled(spark, tmp_path_factory):
    """``crawled(wh, n_seeds, rounds, **over) -> (cfg, crawl, results)``:
    a finished ``rounds``-round crawl of ``make_seeds(cfg, n_seeds)`` under
    ``cfg = small_cfg(wh, **over)``, with the round results it returned.

    Each distinct (config, seeds, rounds, shuffle parallelism) is crawled
    once per session; every call gets its own copy of that finished
    warehouse at ``wh``, so callers may write to it. A crawl is
    deterministic and its warehouse holds only relative paths, so the
    copy is the warehouse a fresh crawl at ``wh`` would have written."""
    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.sources.synth_web import make_seeds

    done: dict = {}

    def get(wh, n_seeds: int, rounds: int, **over):
        cfg = small_cfg(str(wh), **over)
        key = (
            repr(replace(cfg, warehouse="")),
            n_seeds,
            rounds,
            spark.conf.get("spark.sql.shuffle.partitions"),
        )
        if key not in done:
            src = str(tmp_path_factory.mktemp("crawled") / "wh")
            first = small_cfg(src, **over)
            seeds = spark.createDataFrame(make_seeds(first, n_seeds))
            done[key] = src, list(Crawl(spark, first).run(seeds, rounds=rounds))
        src, results = done[key]
        shutil.copytree(src, str(wh))
        return cfg, Crawl(spark, cfg), list(results)

    return get
