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
from swmaestro_crawler_spark.plans import round as round_mod
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
    # each round's outlinks, as the round handed them to the cutoff (the
    # next round's fetch drops the table)
    outlinks = []
    orig = round_mod.frontier_links

    def recording(links, seen, r):
        outlinks.append((r, links.collect(), seen))
        return orig(links, seen, r)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(round_mod, "frontier_links", recording)
        engine.run(spark.createDataFrame(seeds), rounds=cfg_on.max_rounds)
    return oracle_on, oracle_off, engine, outlinks


def test_cutoff_prevents_continuation_fetches(cutoff_runs):
    """With the cutoff ON the crawl provably fetches FEWER pages — the
    dropped continuations never reach the frontier."""
    oracle_on, oracle_off, _, _ = cutoff_runs
    assert len(oracle_on.crawl_order) < len(oracle_off.crawl_order), (
        len(oracle_on.crawl_order),
        len(oracle_off.crawl_order),
    )


def test_engine_matches_oracle_with_cutoff_active(cutoff_runs):
    """Engine crawl order must equal the sequential oracle's under a
    config where the cutoff actually fires (not vacuous parity)."""
    oracle_on, _, engine, _ = cutoff_runs
    got = [
        (r.round, r.ord, r.url, r.host, r.depth, r.ok)
        for r in engine.cat.read("crawl_order", CRAWL_ORDER)
        .orderBy("round", "ord")
        .collect()
    ]
    assert got == oracle_on.crawl_order


def test_remaining_frontier_matches_with_cutoff_active(cutoff_runs):
    oracle_on, _, engine, _ = cutoff_runs
    got = {
        (r.url_hash, r.attempt, r.depth, r.seq)
        for r in engine.cat.read("pending", FRONTIER).collect()
    }
    want = {(p.url_hash, p.attempt, p.depth, p.seq) for p in oracle_on.pending_left}
    assert got == want


def _links_exploded_reference(fetched, seen, bitmap_bc, cfg, r):
    """The round's earlier outlink path, kept as the reference: explode
    the resolved rows' links in Spark, canonicalize them with the Arrow
    UDF, probe the playlist children against the round-start bloom in a
    separate Python stage, then apply the same cutoff."""
    from pyspark.sql import functions as F

    from swmaestro_crawler_spark.functions.canonical import with_canonical
    from swmaestro_crawler_spark.operators.seen import bloom_probe

    resolved = fetched.filter(F.col("ok") | (F.col("status_code") == 301))
    links_exploded = (
        resolved.filter(F.col("depth") < cfg.max_depth)
        .select(
            F.col("url").alias("parent"),
            F.col("depth").alias("parent_depth"),
            F.posexplode(
                F.when(F.col("links") == "", F.array().cast("array<string>"))
                .otherwise(F.split(F.col("links"), "\x02"))
            ).alias("seq", "url"),
        )
        .transform(with_canonical)
        .drop("fingerprint")
    )
    is_pl_parent = F.col("parent").rlike("://[^/]*/pl/")
    is_pl_child = F.col("url").rlike("://[^/]*/pl/")
    watch_children = links_exploded.filter(is_pl_parent & ~is_pl_child).select(
        "parent", "url_hash"
    )
    cut_parents = (
        bloom_probe(watch_children, bitmap_bc, cfg.bloom_hashes)
        .filter(F.col("maybe_seen"))
        .join(seen.select("url_hash"), "url_hash", "left_semi")
        .select("parent")
        .distinct()
    )
    cont = links_exploded.filter(is_pl_parent & is_pl_child)
    rest = links_exploded.filter(~(is_pl_parent & is_pl_child))
    links = rest.unionByName(cont.join(cut_parents, "parent", "left_anti"))
    return links.select(
        "url",
        "url_hash",
        "host",
        (F.col("parent_depth") + 1).cast("int").alias("depth"),
        F.col("seq").cast("long").alias("seq"),
        F.lit(r + 1).cast("int").alias("round"),
        F.lit(0).cast("int").alias("attempt"),
        "parent",
    )


def test_fetch_pass_outlinks_equal_reference_path(spark, cutoff_runs):
    """Every round's outlinks from the fetch pass, with the cutoff
    applied (``plans.round.frontier_links``), are exactly the rows the
    reference path derives from the same fetched snapshot, round-start
    seen snapshot and round-start bloom — in a crawl where the cutoff
    fires."""
    import os

    import numpy as np

    from swmaestro_crawler_spark.operators.fetch import FETCHED, OUTLINKS

    _, _, engine, outlinks = cutoff_runs
    cat, cfg = engine.cat, engine.cfg
    fetched_sid = {
        s["meta"]["round"]: s["id"]
        for s in cat._load_manifest("fetched")["snapshots"]
        if "round" in s["meta"]
    }
    assert [r for r, _, _ in outlinks] == list(range(cfg.max_rounds))
    cut = 0
    for r, rows, seen in outlinks:
        got = round_mod.frontier_links(spark.createDataFrame(rows, OUTLINKS), seen, r)
        bloom = np.load(os.path.join(cfg.warehouse, f"bloom-r{r - 1}.npy"))
        want = _links_exploded_reference(
            cat.read("fetched", FETCHED, snapshot=fetched_sid[r]),
            seen,
            spark.sparkContext.broadcast(bloom.tobytes()),
            cfg,
            r,
        )
        got_rows = sorted(map(tuple, got.collect()))
        assert got_rows == sorted(map(tuple, want.collect())), r
        cut += len(rows) - len(got_rows)
    assert cut > 0  # the cutoff dropped continuations in some round
