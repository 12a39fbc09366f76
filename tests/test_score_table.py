"""Incremental link-score maintenance (operators/scoretable): the
frontier scheduler's state as an append-only merge-on-read catalog
table. Increment correctness rests on the crawl invariant that a
parent's outlinks all arrive in ONE batch (a URL is fetched at most
once), so outdeg(parent) is final at emission and contributions are
pure additions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from swmaestro_crawler_spark.catalog import Catalog
from swmaestro_crawler_spark.operators.scoretable import (
    SCORES,
    SCORES_TABLE,
    append_contributions,
    compact_scores,
    opic_contributions,
    read_scores,
)
from tests.conftest import small_cfg


# the score-table crawl the end-to-end tests below share (binding budget)
TABLE_CRAWL = dict(
    per_host_cap=4, round_seconds=4.0, score_admission="table"
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(f"http://h/{d}", f"http://h/{s}") for s, d in pairs],
        "url string, parent string",
    )


PAIRS = [
    # parent 0 has 4 outlinks, 1 has 2, 2 has 1, 7 has 3 — batched by
    # parent (the crawl invariant: one parent's links arrive together)
    (0, 1), (0, 2), (0, 3), (0, 4),
    (1, 2), (1, 5),
    (2, 6),
    (7, 2), (7, 5), (7, 8),
]


def test_incremental_equals_batch(spark, tmp_path):
    """Appending per-parent batches and reading merge-on-read must equal
    one batch pass over the full edge set — and compaction must preserve
    the result while collapsing the log."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    by_parent = {}
    for s, d in PAIRS:
        by_parent.setdefault(s, []).append((s, d))
    for i, (_, batch) in enumerate(sorted(by_parent.items())):
        append_contributions(cat, _edges(spark, batch), i)
    inc = {r.url_hash: r.score for r in read_scores(cat).collect()}
    batch = {
        r.url_hash: r.score
        for r in opic_contributions(_edges(spark, PAIRS)).collect()
    }
    assert inc == batch and len(inc) > 0
    log_rows = cat.read(SCORES_TABLE, SCORES).count()
    compact_scores(cat)
    assert {r.url_hash: r.score for r in read_scores(cat).collect()} == batch
    assert cat.read(SCORES_TABLE, SCORES).count() <= log_rows
    # appends keep composing after a compaction
    append_contributions(cat, _edges(spark, [(9, 2), (9, 1)]), 99)
    after = {r.url_hash: r.score for r in read_scores(cat).collect()}
    full = {
        r.url_hash: r.score
        for r in opic_contributions(
            _edges(spark, PAIRS + [(9, 2), (9, 1)])
        ).collect()
    }
    assert after == full


def test_contributions_are_layout_independent(spark):
    a = {r.url_hash: r.score for r in opic_contributions(_edges(spark, PAIRS)).collect()}
    b = {
        r.url_hash: r.score
        for r in opic_contributions(
            _edges(spark, PAIRS).repartition(7, "parent")
        ).collect()
    }
    assert a == b
    # duplicate links on one page collapse to one edge
    c = {
        r.url_hash: r.score
        for r in opic_contributions(_edges(spark, PAIRS + [(0, 1)])).collect()
    }
    assert c == a


def test_score_admission_values_are_checked(tmp_path):
    """One field picks the scheduler; a table-only option without the
    table, or an unknown mode, is refused instead of silently ignored."""
    wh = str(tmp_path / "wh")
    for mode in (None, "round", "table"):
        small_cfg(wh, score_admission=mode)
    small_cfg(wh, score_admission="table", score_compact_every=2)
    with pytest.raises(ValueError, match="score_admission must be"):
        small_cfg(wh, score_admission=True)
    for mode in (None, "round"):
        with pytest.raises(ValueError, match="score_compact_every"):
            small_cfg(wh, score_admission=mode, score_compact_every=1)


def _table_crawl(crawled, spark, wh, par):
    from tests.test_resume import TABLES, table_digest

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(par))
        _, c, _ = crawled(wh, 30, 3, **TABLE_CRAWL)
        return [table_digest(c, t) for t in TABLES], c
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_table_backed_crawl_deterministic_and_consistent(spark, tmp_path, crawled):
    """End-to-end crawl on the standing score table: digest-identical
    across shuffle parallelism 3 vs 8 (including the link_scores table
    itself), the log's merged view is internally consistent, and the
    ranking provably changes the crawl vs LIFO under the binding
    budget."""
    d3, _ = _table_crawl(crawled, spark, str(tmp_path / "p3"), 3)
    d8, c = _table_crawl(crawled, spark, str(tmp_path / "p8"), 8)
    assert d3 == d8
    # internal consistency: merge-on-read equals the sum of the per-round
    # deltas (every snapshot's rows), i.e. no append was lost or doubled
    merged = {r.url_hash: r.score for r in read_scores(c.cat).collect()}
    log = {
        r.url_hash: r.score
        for r in c.cat.read(SCORES_TABLE, SCORES)
        .groupBy("url_hash")
        .agg(F.sum("score").alias("score"))
        .collect()
    }
    assert merged == log and len(merged) > 0
    # the budget binds (cap=4), so table-backed ranking must actually
    # change the crawl vs plain LIFO on the same seeds
    from tests.test_score_admission import _scored_crawl

    lifo, _ = _scored_crawl(crawled, spark, str(tmp_path / "lifo"), 8, score=False)
    assert d8 != lifo


def test_resume_rolls_back_score_table(spark, tmp_path, crawled):
    """A killed-after-commit round must roll link_scores back with the
    other tables: resume from the round-1 checkpoint replays round 2's
    append exactly once (same final digests as the uninterrupted run)."""
    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.sources.synth_web import make_seeds
    from tests.test_resume import table_digest

    cfg, c, _ = crawled(tmp_path / "wh", 30, 3, **TABLE_CRAWL)
    seeds = spark.createDataFrame(make_seeds(cfg, 30))
    uninterrupted = table_digest(c, SCORES_TABLE)

    cfg2 = small_cfg(str(tmp_path / "wh2"), **TABLE_CRAWL)
    c2 = Crawl(spark, cfg2)
    c2.run(seeds, rounds=2)
    # simulate a crash AFTER round 2's link_scores append but BEFORE its
    # checkpoint: append garbage the rollback must discard
    append_contributions(
        c2.cat, _edges(spark, [(100, 101), (100, 102)]), 999
    )
    c3 = Crawl(spark, cfg2)
    c3.run(seeds, rounds=3)
    assert table_digest(c3, SCORES_TABLE) == uninterrupted


def test_auto_compaction_is_read_invisible(tmp_path, crawled):
    """cfg.score_compact_every: a crawl that compacts the contribution
    log every round must produce identical crawl_order/seen/spans (and
    every other table) digests as the compact-never crawl, an equal
    merged score view, and a strictly smaller contribution log."""
    from tests.test_resume import TABLES, table_digest

    def crawl(wh, every):
        return crawled(wh, 30, 3, score_compact_every=every, **TABLE_CRAWL)[1]

    c_off = crawl(str(tmp_path / "off"), 0)
    c_on = crawl(str(tmp_path / "on"), 1)
    for t in TABLES:
        if t == SCORES_TABLE:
            continue  # log layout differs by design; the VIEW must not
        assert table_digest(c_on, t) == table_digest(c_off, t), t
    merged_on = {r.url_hash: r.score for r in read_scores(c_on.cat).collect()}
    merged_off = {r.url_hash: r.score for r in read_scores(c_off.cat).collect()}
    assert merged_on == merged_off and len(merged_on) > 0
    # compaction really ran (one extra overwrite commit per round) and
    # left the log fully collapsed: exactly one pre-summed row per URL
    assert c_on.cat.current_snapshot(SCORES_TABLE) > c_off.cat.current_snapshot(
        SCORES_TABLE
    )
    on_log = c_on.cat.read(SCORES_TABLE, SCORES)
    assert on_log.count() == on_log.select("url_hash").distinct().count()
    assert on_log.count() == len(merged_on)
