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
from tests.test_score_admission import _scored_crawl


# the score-table crawl the end-to-end tests below share (binding budget)
TABLE_CRAWL = dict(per_host_cap=4, round_seconds=4.0, score_admission=True)


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
    compact_scores(cat, len(by_parent))
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
    """score_admission is a bool: a value of the retired modes ("round",
    "table", None) is refused instead of silently read as on or off."""
    wh = str(tmp_path / "wh")
    for on in (False, True):
        assert small_cfg(wh, score_admission=on).score_admission is on
    for bad in (None, "round", "table", 1):
        with pytest.raises(ValueError, match="score_admission must be a bool"):
            small_cfg(wh, score_admission=bad)


def _compactions(cat) -> list[dict]:
    """Manifest entries of the log's compaction snapshots, oldest first."""
    return [
        s
        for s in cat._load_manifest(SCORES_TABLE)["snapshots"]
        if s["meta"].get("op") == "compact"
    ]


def test_table_backed_crawl_deterministic_and_consistent(spark, tmp_path, crawled):
    """End-to-end crawl on the standing score table: digest-identical
    across shuffle parallelism 3 vs 8, the log's merged view is internally consistent, and the
    ranking provably changes the crawl vs LIFO under the binding
    budget."""
    d3, _ = _scored_crawl(crawled, spark, str(tmp_path / "p3"), 3)
    d8, c = _scored_crawl(crawled, spark, str(tmp_path / "p8"), 8)
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
    lifo, _ = _scored_crawl(crawled, spark, str(tmp_path / "lifo"), 8, score=False)
    assert d8 != lifo


def test_resume_rolls_back_score_table(spark, tmp_path, crawled, monkeypatch):
    """A round killed after its commits must roll link_scores back with
    the other tables. The log compacts inside the round's scores job,
    before the checkpoint, so a crash in the round after a compaction
    rolls back that round's append and any compaction together: resume
    from the round-1 checkpoint replays round 2 exactly once (same final
    digests as the uninterrupted run)."""
    from swmaestro_crawler_spark.plans import crawl as crawl_mod
    from swmaestro_crawler_spark.plans.crawl import Crawl
    from swmaestro_crawler_spark.sources.synth_web import make_seeds
    from tests.test_resume import TABLES, table_digest

    _, c, _ = crawled(tmp_path / "wh", 30, 3, **TABLE_CRAWL)
    # the uninterrupted run compacted before the round the crash hits
    assert [s for s in _compactions(c.cat) if s["meta"]["round"] < 2]
    uninterrupted = [table_digest(c, t) for t in (*TABLES, SCORES_TABLE)]

    cfg2, c2, _ = crawled(tmp_path / "wh2", 30, 2, **TABLE_CRAWL)
    ckpt_sid = c2._load_checkpoint()["snapshots"][SCORES_TABLE]

    def crash(*_):
        raise RuntimeError("injected crash before round 2's checkpoint")

    # round 2 runs every commit, then dies before its checkpoint
    monkeypatch.setattr(crawl_mod, "finish_round", crash)
    seeds = spark.createDataFrame(make_seeds(cfg2, 30))
    with pytest.raises(RuntimeError, match="injected crash"):
        Crawl(spark, cfg2).run(seeds, rounds=3)
    assert c2.cat.current_snapshot(SCORES_TABLE) > ckpt_sid
    monkeypatch.undo()
    c3 = Crawl(spark, cfg2)
    c3.run(seeds, rounds=3)
    assert [table_digest(c3, t) for t in (*TABLES, SCORES_TABLE)] == uninterrupted


def test_auto_compaction_is_read_invisible(tmp_path, crawled):
    """A table crawl compacts its contribution log at least once, and
    every compaction is read-invisible: the merged view at the compacted
    snapshot equals the view summed at the snapshot before it, and the
    compacted log holds exactly one pre-summed row per URL."""
    _, c, _ = crawled(tmp_path / "wh", 30, 3, **TABLE_CRAWL)

    def view(sid):
        return {
            r.url_hash: r.score
            for r in c.cat.read(SCORES_TABLE, SCORES, snapshot=sid)
            .groupBy("url_hash")
            .agg(F.sum("score").alias("score"))
            .collect()
        }

    compactions = _compactions(c.cat)
    assert compactions
    for s in compactions:
        merged = view(s["id"])
        assert merged == view(s["parent"]) and len(merged) > 0
        assert c.cat.row_count(SCORES_TABLE, s["id"]) == len(merged)
