"""Per-playlist pagination cutoff (O5/V4, VERDICT r1 task 6).

The reference kills a playlist's whole pagination chain on the first
already-seen video (New_YouTube_Crawler.py:263-273, keep_going=False).
Batch adaptation: a playlist page whose video items include a URL seen
as of ROUND START does not enqueue its /pl/ next-page continuation.

Config here makes the cutoff actually fire: playlist seeds (chains start
at depth 0), a tiny per-host watch-id pool (videos shared across
playlists), a large politeness budget (chains never starve), and zero
failure probability (fully deterministic counts)."""

from __future__ import annotations

import pytest

from oracle.reference_oracle import run_oracle
from swmaestro_crawler_spark.plans.crawl import Crawl
from swmaestro_crawler_spark.schema import CRAWL_ORDER, FRONTIER
from swmaestro_crawler_spark.sources.synth_web import _new_path, _pick_host, _rng


def playlist_seeds(cfg, n: int) -> list[dict]:
    rng = _rng("plseeds", str(cfg.synth_seed), str(n))
    return [
        {
            "url": f"http://{_pick_host(rng, cfg)}{_new_path(rng, '/pl/')}",
            "category": "c",
            "rank_kind": "score",
            "rank": i + 1,
        }
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def cutoff_runs(spark, tmp_path_factory):
    from tests.conftest import small_cfg

    cfg_on = small_cfg(
        str(tmp_path_factory.mktemp("wh_cut")),
        synth_watch_pool=48,
        round_seconds=60.0,
        max_rounds=4,
        max_depth=4,
        synth_fail_prob=0.0,
        synth_fatal_prob=0.0,
    )
    seeds = playlist_seeds(cfg_on, 16)
    oracle_on = run_oracle(seeds, cfg_on)
    oracle_off = run_oracle(seeds, cfg_on, playlist_cutoff=False)
    engine = Crawl(spark, cfg_on)
    engine.run(spark.createDataFrame(seeds), rounds=cfg_on.max_rounds)
    return oracle_on, oracle_off, engine


def test_cutoff_prevents_continuation_fetches(cutoff_runs):
    """With the cutoff ON the crawl provably fetches FEWER pages — the
    dropped continuations never reach the frontier."""
    oracle_on, oracle_off, _ = cutoff_runs
    assert len(oracle_on.crawl_order) < len(oracle_off.crawl_order), (
        len(oracle_on.crawl_order),
        len(oracle_off.crawl_order),
    )


def test_engine_matches_oracle_with_cutoff_active(cutoff_runs):
    """Engine crawl order must equal the sequential oracle's under a
    config where the cutoff actually fires (not vacuous parity)."""
    oracle_on, _, engine = cutoff_runs
    got = [
        (r.round, r.ord, r.url, r.host, r.depth, r.ok)
        for r in engine.cat.read("crawl_order", CRAWL_ORDER)
        .orderBy("round", "ord")
        .collect()
    ]
    assert got == oracle_on.crawl_order


def test_remaining_frontier_matches_with_cutoff_active(cutoff_runs):
    oracle_on, _, engine = cutoff_runs
    got = {
        (r.url_hash, r.attempt, r.depth, r.seq)
        for r in engine.cat.read("pending", FRONTIER).collect()
    }
    want = {(p.url_hash, p.attempt, p.depth, p.seq) for p in oracle_on.pending_left}
    assert got == want
