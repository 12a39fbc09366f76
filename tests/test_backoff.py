"""Adaptive per-host backoff (operators/politeness.host_backoff_factors):
hosts whose observed rounds keep majority-failing with transient errors
get their effective crawl-delay stretched 2^min(streak, max_exp) — the
Heritrix/Nutch adaptive-politeness behavior. Default OFF (the reference
sleeps fixed delays; crawl-order parity assumes that)."""

from __future__ import annotations

import pytest

from oracle.reference_oracle import run_oracle
from swmaestro_crawler_spark.operators.politeness import host_backoff_factors
from swmaestro_crawler_spark.plans.crawl import Crawl
from swmaestro_crawler_spark.schema import CRAWL_ORDER, HOST_STATS, SEEN
from swmaestro_crawler_spark.sources.synth_web import make_seeds
from tests.conftest import small_cfg


def test_backoff_factors_streak_semantics(spark):
    rows = [
        # hostA: err(0), err(1) -> streak 2 -> factor 4
        ("a", 0, 1, 2), ("a", 1, 0, 3),
        # hostB: err(0), ok(1), err(2) -> streak 1 -> factor 2
        ("b", 0, 0, 1), ("b", 1, 5, 1), ("b", 2, 1, 1),
        # hostC: ok rounds only -> no row (factor defaults to 1 in the join)
        ("c", 0, 4, 1),
        # hostD: transient==ok counts as erring (>=), but zero transients don't
        ("d", 0, 2, 2), ("d", 1, 0, 0),
        # hostE: 6 consecutive err rounds -> capped at 2^4
        *[("e", i, 0, 1) for i in range(6)],
    ]
    stats = spark.createDataFrame(rows, HOST_STATS)
    got = {r.host: r.backoff_factor for r in host_backoff_factors(stats, 4).collect()}
    assert got.get("a") == 4.0
    assert got.get("b") == 2.0
    assert "c" not in got
    # d: err at round 0, but round 1 observed with 0/0 -> NOT err -> reset
    assert "d" not in got
    assert got.get("e") == 16.0


@pytest.fixture(scope="module")
def backoff_crawl_pair(spark, tmp_path_factory):
    # high transient-failure rate so hosts actually majority-fail and the
    # budget shrink binds (delays {0.2,1.0,6.0} vs round_seconds=6.0)
    cfg = small_cfg(
        str(tmp_path_factory.mktemp("wh")),
        adaptive_backoff=True,
        synth_fail_prob=0.6,
        max_rounds=4,
    )
    seeds = make_seeds(cfg, 60)
    oracle = run_oracle(seeds, cfg)
    engine = Crawl(spark, cfg)
    engine.run(spark.createDataFrame(seeds), rounds=cfg.max_rounds)
    return cfg, oracle, engine


def test_backoff_crawl_order_identical(backoff_crawl_pair):
    _, oracle, engine = backoff_crawl_pair
    got = [
        (r.round, r.ord, r.url, r.host, r.depth, r.ok)
        for r in engine.cat.read("crawl_order", CRAWL_ORDER)
        .orderBy("round", "ord")
        .collect()
    ]
    assert got == oracle.crawl_order


def test_backoff_seen_and_dead_identical(backoff_crawl_pair):
    _, oracle, engine = backoff_crawl_pair
    rows = engine.cat.read("seen", SEEN).collect()
    assert {r.url_hash for r in rows} == oracle.seen
    from swmaestro_crawler_spark.schema import DEAD

    got = sorted(
        (r.url, r.reason, r.dead_round) for r in engine.cat.read("dead", DEAD).collect()
    )
    assert got == sorted(oracle.dead)


def test_backoff_actually_engaged(backoff_crawl_pair, spark, tmp_path):
    """The equality test is vacuous if no factor ever exceeded 1 — prove
    the feature changed admission vs the same crawl with backoff off."""
    cfg, _, engine = backoff_crawl_pair
    stats = engine.cat.read("host_stats", HOST_STATS)
    factors = host_backoff_factors(stats).collect()
    assert any(r.backoff_factor > 1.0 for r in factors), "no host ever backed off"

    from dataclasses import replace

    cfg_off = replace(
        cfg, adaptive_backoff=False, warehouse=str(tmp_path / "wh_off")
    )
    seeds = make_seeds(cfg_off, 60)
    base = Crawl(spark, cfg_off)
    base.run(spark.createDataFrame(seeds), rounds=cfg_off.max_rounds)
    order_on = [
        (r.round, r.ord, r.url)
        for r in engine.cat.read("crawl_order", CRAWL_ORDER).orderBy("round", "ord").collect()
    ]
    order_off = [
        (r.round, r.ord, r.url)
        for r in base.cat.read("crawl_order", CRAWL_ORDER).orderBy("round", "ord").collect()
    ]
    assert order_on != order_off, "backoff flag had no effect on admission"
